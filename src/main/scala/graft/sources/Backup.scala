package graft.sources

import org.apache.spark.sql.{Encoders, SaveMode, SparkSession}

import graft.engine.{Collection, Graft}
import graft.model._

/**
 * Class-level export / restore (reference: adapters/repos/db/export.go
 * SnapshotShards + usecases/backup — a backup is the class's data files plus
 * a schema descriptor, shipped to a backend (filesystem/S3/GCS/Azure), and
 * restore re-creates the class from the descriptor + data).
 *
 * Spark-native shape: one directory per collection holding
 *  - `data/` — the rows as parquet (partitioned by the tenant column when
 *    the class is multi-tenant, so a restored collection keeps tenant
 *    partition-pruning);
 *  - `schema/` — a single-row JSON manifest of the CollectionSchema
 *    (properties with types/tokenization/refTargets, named vectors, tenant
 *    and timestamp columns).
 * Any Hadoop-compatible URI works as the destination (s3a://…, gs://…,
 * file:…) — the backend matrix the reference implements as four modules is
 * the filesystem abstraction Spark already has.
 */
object Backup {

  /** JSON-encodable schema manifest (PropType/Tokenization round-trip by
   * name). Carries EVERY behavior-bearing schema knob — a restore that
   * dropped asciiFold, the inverted-index gates, or the stopword config
   * would silently change tokenization, filter gating, and BM25 scoring on
   * the restored class. */
  // the post-v1 fields are Options so manifests written BEFORE they existed
  // (or by other tools) restore with defaults instead of a deserializer crash
  case class PropManifest(
      name: String, dataType: String, tokenization: String,
      refTarget: Option[String], indexFilterable: Boolean, indexSearchable: Boolean,
      asciiFold: Option[Boolean] = None, indexRangeFilters: Option[Boolean] = None,
      refTargets: Option[Seq[String]] = None)
  case class SchemaManifest(
      name: String, idColumn: String, properties: Seq[PropManifest],
      vectors: Map[String, String], defaultVector: Option[String],
      tenantColumn: Option[String], creationTimeColumn: Option[String],
      updateTimeColumn: Option[String],
      stopwordPreset: Option[String] = None,
      stopwordAdditions: Option[Seq[String]] = None,
      stopwordRemovals: Option[Seq[String]] = None,
      indexTimestamps: Option[Boolean] = None,
      indexNullState: Option[Boolean] = None,
      indexPropertyLength: Option[Boolean] = None,
      vectorMetrics: Option[Map[String, String]] = None,
      timestampUnit: Option[String] = None,
      vectorizeClassName: Option[Boolean] = None)

  private def parsePropType(s: String): PropType = s match {
    case arr if arr.endsWith("[]") => PropType.Arr(parsePropType(arr.dropRight(2)))
    case "text" => PropType.Text
    case "int" => PropType.Int
    case "number" => PropType.Number
    case "boolean" => PropType.Bool
    case "date" => PropType.Date
    case "uuid" => PropType.Uuid
    case "geoCoordinates" => PropType.Geo
    case "phoneNumber" => PropType.Phone
    case "blob" => PropType.Blob
    case "object" => PropType.Obj
    case "cref" => PropType.Ref
    case other => throw new IllegalArgumentException(s"unknown property type '$other'")
  }

  private def parseMetric(s: String): Metric = s match {
    case "cosine" => Metric.Cosine
    case "dot" => Metric.Dot
    case "l2-squared" => Metric.L2Squared
    case "manhattan" => Metric.Manhattan
    case "hamming" => Metric.Hamming
    case other => throw new IllegalArgumentException(s"unknown metric '$other'")
  }

  private def parseTokenization(s: String): Tokenization = s match {
    case "word" => Tokenization.Word
    case "lowercase" => Tokenization.Lowercase
    case "whitespace" => Tokenization.Whitespace
    case "field" => Tokenization.Field
    case "trigram" => Tokenization.Trigram
    case "gse" => Tokenization.Gse
    case "gse_ch" => Tokenization.GseCh
    case "kagome_ja" => Tokenization.KagomeJa
    case "kagome_kr" => Tokenization.KagomeKr
    case other => throw new IllegalArgumentException(s"unknown tokenization '$other'")
  }

  /** Export one collection (data + schema manifest) under `path`. */
  def exportCollection(c: Collection, path: String): Unit = {
    val spark = c.df.sparkSession
    import spark.implicits._
    val manifest = SchemaManifest(
      c.schema.name, c.schema.idColumn,
      c.schema.properties.map(p => PropManifest(
        p.name, p.dataType.name, p.tokenization.name, p.refTarget,
        p.indexFilterable, p.indexSearchable,
        Some(p.asciiFold), Some(p.indexRangeFilters),
        Some(p.refTargets).filter(_.nonEmpty))),
      c.schema.vectors, c.schema.defaultVector, c.schema.tenantColumn,
      c.schema.creationTimeColumn, c.schema.updateTimeColumn,
      Some(c.schema.stopwords.preset),
      Some(c.schema.stopwords.additions), Some(c.schema.stopwords.removals),
      Some(c.schema.invertedIndex.indexTimestamps),
      Some(c.schema.invertedIndex.indexNullState),
      Some(c.schema.invertedIndex.indexPropertyLength),
      Some(c.schema.vectorMetrics.map { case (k, v) => k -> v.name }),
      Some(c.schema.timestampUnit),
      Some(c.schema.vectorizeClassName))
    Seq(manifest).toDS().coalesce(1).write.mode(SaveMode.Overwrite).json(s"$path/schema")
    val writer = c.df.write.mode(SaveMode.Overwrite)
    c.schema.tenantColumn.fold(writer)(tc => writer.partitionBy(tc)).parquet(s"$path/data")
  }

  /** Restore a collection exported by [[exportCollection]]. */
  def restoreCollection(spark: SparkSession, path: String): Collection = {
    val enc = Encoders.product[SchemaManifest]
    val m = spark.read.schema(enc.schema).json(s"$path/schema").as[SchemaManifest](enc).head()
    val schema = CollectionSchema(
      m.name, m.idColumn,
      m.properties.map(p => Property(p.name, parsePropType(p.dataType),
        parseTokenization(p.tokenization), p.refTarget,
        refTargets = p.refTargets.getOrElse(Nil),
        indexFilterable = p.indexFilterable,
        indexSearchable = p.indexSearchable,
        asciiFold = p.asciiFold.getOrElse(false),
        indexRangeFilters = p.indexRangeFilters.getOrElse(false))),
      m.vectors, m.defaultVector, m.tenantColumn, m.creationTimeColumn,
      m.updateTimeColumn,
      timestampUnit = m.timestampUnit.getOrElse("ns"),
      stopwords = StopwordConfig(m.stopwordPreset.getOrElse("en"),
        m.stopwordAdditions.getOrElse(Nil), m.stopwordRemovals.getOrElse(Nil)),
      invertedIndex = InvertedIndexConfig(m.indexTimestamps.getOrElse(false),
        m.indexNullState.getOrElse(false), m.indexPropertyLength.getOrElse(false)),
      vectorMetrics = m.vectorMetrics.getOrElse(Map.empty)
        .map { case (k, v) => k -> parseMetric(v) },
      vectorizeClassName = m.vectorizeClassName.getOrElse(true))
    // same string-partition contract as CollectionStore.read — a restored
    // multi-tenant class must not re-type numeric-looking tenant directories
    Collection(schema,
      CollectionStore.readVersion(spark, s"$path/data"))
  }

  /** Export several collections under `root/<name>` (the reference's backup
   * descriptor spans classes; include-list semantics like backup create). */
  def backup(g: Graft, collections: Seq[String], root: String): Unit =
    collections.foreach(n => exportCollection(g.collection(n), s"$root/$n"))

  /** Restore every collection under `root` into the engine registry. */
  def restore(g: Graft, root: String, collections: Seq[String]): Graft = {
    collections.foreach { n =>
      g.register(Backup.restoreCollection(g.spark, s"$root/$n"))
    }
    g
  }
}
