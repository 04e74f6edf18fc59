package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.pipeline.Dedup

/**
 * Streaming near-duplicate detection — MinHash-LSH with watermark-bounded
 * state (the streaming form of [[Dedup.minhashDuplicates]]; beyond the
 * reference's ingest-only streaming surface, SURVEY §2.10). An incoming
 * document is checked against every document seen in the last
 * `horizonMillis` of event time, and matching pairs stream out as they are
 * discovered.
 *
 * Shape: shingle-hash + minhash + band keys run as PURE COLUMN projections
 * on the stream (the same column kernels the batch path uses — no
 * aggregation before the stateful operator, so the plan stays a single
 * stateful stage); rows exploded per band key; `flatMapGroupsWithState`
 * keyed by band holds the bucket's recent members. A new row exact-verifies
 * (hash-set Jaccard) against its bucket's in-horizon members — the
 * bucket-then-verify invariant of every batch dedup here: Σ bucket², never
 * N².
 *
 * Emission rule (deterministic, independent of micro-batch boundaries AND
 * of arrival order within the watermark slack, so the t2 oracle can replay
 * it as plain SQL over the same data): pair (a, b) with
 * (ts_a, id_a) < (ts_b, id_b) is emitted — once per matching band; callers
 * dedupe with `distinct` — iff the two share a band key, exact Jaccard ≥
 * threshold, and ts_b − ts_a ≤ horizonMillis. Pairs are normalized to
 * event-time order at emission, and the horizon is checked in both
 * directions, so a late row (legal under a nonzero watermark delay) pairs
 * exactly as if it had arrived in order. State is pruned two ways: entries
 * older than min(current row, watermark) − horizon can never pair with any
 * future row (later rows are watermark-bounded) and drop at processing
 * time; an idle bucket drops wholesale when the watermark passes its
 * newest entry + horizon (EventTimeTimeout) — semantics-free for the same
 * reason.
 *
 * State cost: per band bucket, the shingle-hash arrays (ids + 64-bit
 * hashes only, like every candidate path here) of members newer than
 * watermark − horizon — the honest price of exact-verified streaming
 * dedup; the advancing watermark bounds it. Pairing work per row is
 * bounded separately by the in-horizon window (sorted two-pointer scan),
 * so a slow-advancing watermark inflates memory, never CPU.
 */
object StreamDedup {

  // `ts` carries the WATERMARKED event-time attribute through to the
  // stateful operator (EventTimeTimeout requires it in the plan); `ts_ms`
  // is the same instant as a plain long for the horizon arithmetic
  final case class BandedDoc(band: Long, doc_id: Long, ts_ms: Long,
                             ts: java.sql.Timestamp, shh: Array[Long])
  final case class Bucket(entries: List[(Long, Long, Array[Long])]) // (ts, id, shh)
  final case class DupPair(id_a: Long, id_b: Long, jaccard: Double)

  /** Column phase: tokenize → shingle hashes → minhash → per-band rows.
   * `eventTimeCol` must be a plain (NOT yet watermarked) timestamp column —
   * banded OWNS the single watermark declaration, which rides through as
   * `ts` so the stateful operator can use EventTimeTimeout. Token-less
   * documents drop (they have no shingles — same rule as the batch path).
   * `shh` is SORTED, so the stateful verify is an allocation-free
   * merge-intersect. The shingles come out of a one-element Generate
   * ([[Dedup.withShingles]]), so the shingle kernel runs once per row.
   *
   * Shingles, the 128-lane minhash and the band keys are the native
   * kernels the batch path runs ([[Dedup.wordShingles]],
   * [[Dedup.minhashSignature]], [[Dedup.bandKeys]]) — band keys are
   * bit-identical to [[Dedup.minhashDuplicates]], and the whole phase is one codegen'd
   * stage: no HOF-lambda interpretation (61 s for 1000 sf0.1 docs),
   * no aggregation (not allowed before a stateful operator), no typed-map
   * encoder round-trip. */
  def banded(docs: DataFrame, idCol: String, eventTimeCol: String, textCol: String,
             shingleSize: Int = 3, numHashes: Int = 128, bands: Int = 32,
             watermarkDelay: String = "0 seconds"): Dataset[BandedDoc] = {
    implicit val outEnc = Encoders.product[BandedDoc]
    val rowsPerBand = numHashes / bands
    Dedup.withShingles(docs, Seq(col("*")), col(textCol), shingleSize, sorted = true)
      .withColumn("band", explode(Dedup.bandKeys(
        Dedup.minhashSignature(col("__shh"), numHashes), bands, rowsPerBand)))
      .select(col("band"), col(idCol).cast("long").as("doc_id"),
        (unix_micros(col(eventTimeCol)) / 1000L).cast("long").as("ts_ms"),
        col(eventTimeCol).as("ts"), col("__shh").as("shh"))
      .withWatermark("ts", watermarkDelay)
      .as[BandedDoc]
  }

  def pairs(docs: Dataset[BandedDoc], horizonMillis: Long,
            threshold: Double): Dataset[DupPair] = {
    require(horizonMillis > 0 && threshold >= 0 && threshold <= 1, "invalid settings")
    implicit val stEnc = Encoders.product[Bucket]
    implicit val outEnc = Encoders.product[DupPair]
    implicit val longEnc = Encoders.scalaLong

    // exact Jaccard over the SORTED distinct hash arrays [[banded]] emits —
    // a two-pointer merge, no set allocation (a templated corpus makes most
    // in-horizon pairs LSH candidates, so this runs once per matching band
    // per candidate and its constant factor dominates the operator)
    def jac(a: Array[Long], b: Array[Long]): Double = {
      var i = 0; var j = 0; var inter = 0
      while (i < a.length && j < b.length) {
        val x = a(i); val y = b(j)
        if (x == y) { inter += 1; i += 1; j += 1 }
        else if (x < y) i += 1
        else j += 1
      }
      val uni = a.length + b.length - inter
      if (uni == 0) 1.0 else inter.toDouble / uni
    }

    docs.groupByKey(_.band)
      .flatMapGroupsWithState[Bucket, DupPair](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_: Long, batch: Iterator[BandedDoc], state: GroupState[Bucket]) =>
          if (batch.isEmpty && state.hasTimedOut) {
            // idle bucket past its newest entry + horizon — GC, see scaladoc
            state.remove()
            Iterator.empty
          } else {
            val out = scala.collection.mutable.ArrayBuffer.empty[DupPair]
            // Work per row is proportional to its GENUINE in-horizon
            // candidates, never the bucket size: both the carried state and
            // the batch are kept ts-sorted, and each row pairs against two
            // monotone sliding windows — [ts−h, ts+h] over the state array,
            // [ts−h, ts] over the already-processed batch prefix. A naive
            // per-row bucket scan is O(bucket²) inside one micro-batch —
            // exactly what an AvailableNow whole-corpus replay (watermark
            // still 0, nothing prunable) would hit.
            val stateArr = state.getOption.map(_.entries.toArray).getOrElse(Array.empty)
              .sortBy(e => (e._1, e._2))
            val batchArr = batch.toArray.sortBy(d => (d.ts_ms, d.doc_id))

            def tryPair(ts: Long, id: Long, shh: Array[Long], d: BandedDoc): Unit = {
              // an at-least-once source can redeliver the same doc — a
              // self-pair would violate the strict (ts,id) emission order
              // (the batch path's a.id < b.id never emits a = b)
              if (ts == d.ts_ms && id == d.doc_id) return
              val j = jac(shh, d.shh)
              if (j >= threshold) {
                out += (if (ts < d.ts_ms || (ts == d.ts_ms && id < d.doc_id))
                  DupPair(id, d.doc_id, j) else DupPair(d.doc_id, id, j))
              }
            }

            var sLo = 0; var sHi = 0; var bLo = 0
            var i = 0
            while (i < batchArr.length) {
              val d = batchArr(i)
              while (sHi < stateArr.length && stateArr(sHi)._1 <= d.ts_ms + horizonMillis) sHi += 1
              while (sLo < sHi && stateArr(sLo)._1 < d.ts_ms - horizonMillis) sLo += 1
              while (bLo < i && batchArr(bLo).ts_ms < d.ts_ms - horizonMillis) bLo += 1
              var k = sLo
              while (k < sHi) {
                val e = stateArr(k); tryPair(e._1, e._2, e._3, d); k += 1
              }
              k = bLo
              while (k < i) {
                val b = batchArr(k); tryPair(b.ts_ms, b.doc_id, b.shh, d); k += 1
              }
              i += 1
            }

            // retention: a FUTURE row can be as old as the watermark (later
            // batches — older rows are late and dropped) — so only entries
            // below wm − horizon can never pair again. The old newest-row
            // prune silently dropped entries a late-but-legal row (nonzero
            // watermark delay) still needed. Kept SORTED for the next batch.
            val wmBound = state.getCurrentWatermarkMs() - horizonMillis
            val merged = new scala.collection.mutable.ListBuffer[(Long, Long, Array[Long])]
            var si = 0; var bi = 0
            while (si < stateArr.length || bi < batchArr.length) {
              val takeState = bi >= batchArr.length || (si < stateArr.length &&
                (stateArr(si)._1 < batchArr(bi).ts_ms ||
                 (stateArr(si)._1 == batchArr(bi).ts_ms && stateArr(si)._2 <= batchArr(bi).doc_id)))
              val e = if (takeState) { val x = stateArr(si); si += 1; x }
                      else { val b = batchArr(bi); bi += 1; (b.ts_ms, b.doc_id, b.shh) }
              // drop redelivered copies: both inputs are (ts, id)-sorted, so
              // a duplicate is always adjacent in merge order — keeping it
              // would make every later match emit the pair once per copy and
              // grow the bucket by a full hash array per redelivery
              if (e._1 >= wmBound &&
                  (merged.isEmpty || merged.last._1 != e._1 || merged.last._2 != e._2))
                merged += e
            }
            val entries = merged.toList
            if (entries.isEmpty) state.remove()
            else {
              state.update(Bucket(entries))
              state.setTimeoutTimestamp(entries.last._1 + horizonMillis)
            }
            out.iterator
          }
      }
  }
}
