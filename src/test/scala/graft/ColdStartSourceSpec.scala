package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source checks that keep two cold-start costs out of `src/main`: MLlib's
 * clustering (a dozen Spark jobs to fit a few centroids; the quantizers
 * train on the driver) and Spark's `lower` in the text kernels and
 * tokenizers (its first call loads the ICU case-mapping tables, about a
 * second; they lower-case through `TextHashFunctions.lower`). */
class ColdStartSourceSpec extends AnyFunSuite {

  private val main = Paths.get("src/main")

  private def scalaFiles(under: Path): List[Path] = {
    assert(Files.isDirectory(under), s"no source tree at ${under.toAbsolutePath}")
    Files.walk(under).iterator().asScala.filter(_.toString.endsWith(".scala")).toList
  }

  /** `f`'s lines without comments, numbered from 1. */
  private def codeLines(f: Path): Seq[(String, Int)] =
    Files.readAllLines(f).asScala.zipWithIndex.map { case (l, i) => (l, i + 1) }.collect {
      case (l, n) if !l.trim.startsWith("*") && !l.trim.startsWith("/*") =>
        (l.replaceAll("//.*$", ""), n)
    }.toSeq

  test("src/main imports no MLlib clustering") {
    val clustering = """org\.apache\.spark\.ml\.clustering""".r
    // the check can see the import the quantizers had
    assert(clustering.findFirstIn("import org.apache.spark.ml.clustering.KMeans").isDefined)
    val offenders = for {
      f <- scalaFiles(main)
      (line, n) <- codeLines(f)
      if clustering.findFirstIn(line).isDefined
    } yield s"$f:$n: ${line.trim}"
    assert(offenders.isEmpty,
      "train with graft.ann.KMeansTrainer instead:\n" + offenders.mkString("\n"))
  }

  test("sparkshim kernel builders and Tokenize do not call Spark's lower") {
    // functions.lower spelled out, Catalyst's Lower, or (where functions._ is
    // imported) a bare lower(...) call
    val qualified = """functions\s*\.\s*lower\b|(?<![\w.])Lower\s*\(""".r
    val bare = """(?<![\w.`])lower\s*\(""".r
    assert(qualified.findFirstIn("c(WordShingles(x(org.apache.spark.sql.functions.lower(text)), n))")
      .isDefined)
    assert(bare.findFirstIn("""regexp_extract_all(lower(c), lit("x"), lit(0))""").isDefined)
    assert(bare.findFirstIn("def lower(text: Column): Column =").isDefined)
    val files = scalaFiles(Paths.get("src/main/scala/sparkshim")) :+
      Paths.get("src/main/scala/graft/text/Tokenize.scala")
    val offenders = for {
      f <- files
      lines = codeLines(f)
      wildcard = lines.exists(_._1.contains("import org.apache.spark.sql.functions._"))
      (line, n) <- lines
      if qualified.findFirstIn(line).isDefined ||
        (wildcard && bare.findFirstIn(line).isDefined && !line.contains("def lower("))
    } yield s"$f:$n: ${line.trim}"
    assert(offenders.isEmpty,
      "lower-case through TextHashFunctions.lower instead:\n" + offenders.mkString("\n"))
  }
}
