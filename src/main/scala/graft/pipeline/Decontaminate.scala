package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Benchmark decontamination — flag training documents that share word
 * n-grams with an evaluation/benchmark set (the GPT-3-style 13-gram overlap
 * check; engine extension beyond the weaviate surface, like the rest of the
 * training-pipeline operators).
 *
 * Scale shape: the benchmark side is tiny relative to the corpus (eval sets
 * are thousands of rows against 100 TB), so its distinct gram hashes
 * broadcast; the corpus side is ONE scan — tokenize → hashed n-grams
 * (identity-only, strings never materialized, same trick as
 * Dedup.shingleHashes) → explode → broadcast-hash semi-join → partial-agg
 * count per doc. No shuffle carries text payloads; the only full-width
 * shuffle is the final groupBy on doc id, and that is partial-aggregated.
 */
object Decontaminate {

  /**
   * Per-corpus-doc count of DISTINCT n-grams also present anywhere in the
   * benchmark set. Returns (id, overlap_grams) for docs with ≥ 1 overlap.
   * Docs shorter than n tokens degrade to a whole-text gram (the
   * Dedup.shingleHashes convention), so exact short-doc copies still flag.
   */
  def ngramOverlap(corpus: DataFrame, corpusId: Column, corpusText: Column,
                   bench: DataFrame, benchText: Column, n: Int): DataFrame = {
    val corpusGrams = corpus
      .select(corpusId.as("id"),
        explode(Dedup.wordShingles(corpusText, n)).as("__g"))
    val benchGrams = bench
      .select(explode(Dedup.wordShingles(benchText, n)).as("__g"))
      .distinct()
    corpusGrams
      .join(broadcast(benchGrams), Seq("__g"), "left_semi")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("overlap_grams"))
  }
}
