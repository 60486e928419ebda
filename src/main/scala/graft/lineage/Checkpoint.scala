package graft.lineage

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import java.nio.charset.StandardCharsets
import scala.jdk.CollectionConverters._
import scala.util.Try

/** Per-partition checkpoint state with input lineage, emulating
  * Iceberg-style snapshot semantics over partitioned Parquet (no Iceberg
  * jar ships in this environment; the interface is catalog-agnostic).
  *
  * Each input partition (`source=<dir>` directory) is fingerprinted by its
  * file list (name, length, mtime). State layout under the state dir:
  *  - `manifests/<dir>.json`, one per partition, written LAST:
  *    `{source, fingerprint, n_rows, stats}` where `stats` is the
  *    partition's per-source stats row (`Row.json`, binary fields base64;
  *    JSON null for a partition with no rows). The stats are KBs whatever
  *    the data size, so they live on the driver, never in a Spark table;
  *    a partition's sketch contribution is replaced whole with its
  *    manifest.
  *  - `violations/source=<dir>/`: violation rows, parquet;
  *  - `verdicts.json`: the last run's verdict rows, JSON lines.
  *
  * A partition is checkpointed when its manifest's fingerprint matches
  * AND its stats decode ([[checkpointed]], the one predicate the
  * rerun planner and `Main state-audit` share); every other partition is
  * revalidated, and the skip is a real scan skip, because the remaining
  * sources are read with a partition-pruning filter.
  *
  * This is the "resumable from checkpoint with per-partition lineage"
  * requirement (BASELINE.json north_rule); the reference's incremental
  * analog is the early-stopping streaming fold in example_data.clj:80-92.
  */
object Checkpoint {

  /** `source` is the partition value as Spark's partition discovery
    * decodes it (NULL for `__HIVE_DEFAULT_PARTITION__`); `dir` is the
    * escaped directory value after `source=`, which keys the manifest.
    */
  final case class PartitionLineage(source: String, fingerprint: String, dir: String)

  /** A partition a rerun skips, with the stats row its manifest carries
    * (empty for a partition with no rows).
    */
  final case class Checkpointed(lineage: PartitionLineage, stats: Option[Row])

  private val mapper = new ObjectMapper()

  private def fs(spark: SparkSession, p: String): FileSystem =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** List `source=<dir>` partitions of a hive-layout table with their
    * lineage fingerprints.
    */
  def inputPartitions(spark: SparkSession, inputPath: String): Seq[PartitionLineage] = {
    val system = fs(spark, inputPath)
    val root = new Path(inputPath)
    if (!system.exists(root)) return Nil
    system.listStatus(root).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("source="))
      .map { st =>
        val dir = st.getPath.getName.stripPrefix("source=")
        val source =
          if (dir == ExternalCatalogUtils.DEFAULT_PARTITION_NAME) null
          else ExternalCatalogUtils.unescapePathName(dir)
        val files = system.listStatus(st.getPath).toSeq
          .filter(f => f.isFile && !f.getPath.getName.startsWith("_"))
          .sortBy(_.getPath.getName)
          .map(f => s"${f.getPath.getName}:${f.getLen}:${f.getModificationTime}")
        val fp = java.security.MessageDigest.getInstance("MD5")
          .digest(files.mkString("\n").getBytes(StandardCharsets.UTF_8))
          .map("%02x".format(_)).mkString
        PartitionLineage(source, fp, dir)
      }
  }

  /** Rows whose `source` is one of `sources`, NULL included (`isin`
    * never matches a NULL partition value).
    */
  def sourceIn(sources: Seq[String]): Column = {
    val (nulls, values) = sources.partition(_ == null)
    val in = col("source").isin(values: _*)
    if (nulls.isEmpty) in else in || col("source").isNull
  }

  private def manifestPath(statePath: String, dir: String): Path =
    new Path(s"$statePath/manifests/$dir.json")

  private final case class Manifest(
      fingerprint: Option[String], nRows: Option[Long], stats: Try[Option[Row]])

  /** ONE manifest parse site, None when no manifest exists. Fingerprint
    * and n_rows are read leniently (a garbled body still shows what it
    * checkpointed); the stats must decode in full.
    */
  private def readManifestFields(spark: SparkSession, statePath: String,
      dir: String): Option[Manifest] = {
    val p = manifestPath(statePath, dir)
    val system = fs(spark, statePath)
    if (!system.exists(p)) None
    else {
      val in = system.open(p)
      try {
        val body = new String(in.readAllBytes(), StandardCharsets.UTF_8)
        Some(Manifest(
          "\"fingerprint\"\\s*:\\s*\"([0-9a-f]+)\"".r
            .findFirstMatchIn(body).map(_.group(1)),
          "\"n_rows\"\\s*:\\s*(\\d+)".r
            .findFirstMatchIn(body).map(_.group(1).toLong),
          Try(mapper.readTree(body).get("stats")).map { n =>
            require(n != null, "manifest has no stats")
            if (n.isNull) None else Some(decodeRow(n, graft.constraints.Validator.statsSchema))
          }))
      } finally in.close()
    }
  }

  /** The audit-surface reader: present manifest -> (fingerprint?,
    * n_rows?), keyed by the escaped partition value
    * ([[PartitionLineage.dir]]). Both are OPTIONAL on purpose: the audit
    * shows what a garbled manifest still says, while [[checkpointed]]
    * decides whether a rerun skips the partition.
    */
  def readManifestInfo(spark: SparkSession, statePath: String,
      dir: String): Option[(Option[String], Option[Long])] =
    readManifestFields(spark, statePath, dir).map(m => (m.fingerprint, m.nRows))

  /** The skip predicate shared by [[plan]] and `Main state-audit`: Some
    * when `pl`'s manifest fingerprint matches and its stats row decodes
    * for `pl.source`, None when the partition must be revalidated (no
    * manifest, changed input, old layout without stats, garbled body).
    */
  def checkpointed(spark: SparkSession, statePath: String,
      pl: PartitionLineage): Option[Checkpointed] =
    readManifestFields(spark, statePath, pl.dir)
      .filter(_.fingerprint.contains(pl.fingerprint))
      .flatMap(_.stats.toOption)
      .filter(_.forall(_.getAs[String]("source") == pl.source))
      .map(Checkpointed(pl, _))

  /** Manifest keys (escaped partition values) present in the state dir,
    * for orphan detection — a manifest whose partition left the input.
    */
  def manifestSources(spark: SparkSession, statePath: String): Seq[String] = {
    val dir = new Path(s"$statePath/manifests")
    val system = fs(spark, statePath)
    if (!system.exists(dir)) Nil
    else system.listStatus(dir).toSeq
      .filter(st => st.isFile && st.getPath.getName.endsWith(".json"))
      .map(_.getPath.getName.stripSuffix(".json"))
  }

  /** Write `pl`'s manifest with its stats row (None: the partition has
    * no rows). Written last, after the partition's violations.
    */
  def writeManifest(spark: SparkSession, statePath: String,
                    pl: PartitionLineage, stats: Option[Row]): Unit = {
    val m = mapper.createObjectNode()
    m.put("source", pl.source)
    m.put("fingerprint", pl.fingerprint)
    m.put("n_rows", stats.fold(0L)(_.getAs[Long]("n_rows")))
    m.set[JsonNode]("stats", stats.fold[JsonNode](m.nullNode())(r => mapper.readTree(r.json)))
    writeString(spark, manifestPath(statePath, pl.dir).toString, mapper.writeValueAsString(m))
  }

  private[graft] def writeString(spark: SparkSession, path: String, body: String): Unit = {
    val out = fs(spark, path).create(new Path(path), true)
    try out.write(body.getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Decode a `Row.json` object guided by `schema`. A missing field, a
    * NULL in a non-nullable field or a field type the codec does not
    * know fails loudly.
    */
  private def decodeRow(node: JsonNode, schema: StructType): Row = {
    def value(n: JsonNode, t: DataType): Any = t match {
      case StringType  => require(n.isTextual, s"not a string: $n"); n.textValue
      case LongType    => require(n.isIntegralNumber, s"not a long: $n"); n.longValue
      case IntegerType => require(n.canConvertToInt, s"not an int: $n"); n.intValue
      case BinaryType  =>
        require(n.isTextual, s"not base64: $n"); java.util.Base64.getDecoder.decode(n.textValue)
      case ArrayType(et, _) =>
        require(n.isArray, s"not an array: $n")
        n.elements.asScala.map(value(_, et)).toVector
      case other => throw new IllegalArgumentException(s"stats codec: unsupported type $other")
    }
    require(node.isObject, s"stats is not an object: $node")
    new GenericRowWithSchema(schema.fields.map { f =>
      val n = node.get(f.name)
      require(n != null && (f.nullable || !n.isNull), s"stats field ${f.name}: $n")
      if (n.isNull) null else value(n, f.dataType)
    }, schema)
  }

  def violationsPath(statePath: String): String = s"$statePath/violations"
  def verdictsPath(statePath: String): String = s"$statePath/verdicts.json"

  /** Delete the violation rows stored for `source`: a revalidated
    * partition's old rows must go even when it has none now. The
    * directory is the one Spark's partitioned writer uses for the value.
    */
  def dropViolations(spark: SparkSession, statePath: String, source: String): Unit = {
    fs(spark, statePath).delete(new Path(violationsPath(statePath),
      ExternalCatalogUtils.getPartitionPathString("source", source)), true)
  }

  /** Split input partitions into (checkpointed, needs-work), reading each
    * manifest once.
    */
  def plan(spark: SparkSession, inputPath: String, statePath: String)
      : (Seq[Checkpointed], Seq[PartitionLineage]) = {
    val planned = inputPartitions(spark, inputPath)
      .map(pl => pl -> checkpointed(spark, statePath, pl))
    (planned.flatMap(_._2), planned.collect { case (pl, None) => pl })
  }

  /** `path` read with `schema` (no inference job), None when it does not
    * exist.
    */
  def readParquetIfExists(spark: SparkSession, path: String,
      schema: StructType): Option[DataFrame] =
    if (fs(spark, path).exists(new Path(path))) Some(spark.read.schema(schema).parquet(path))
    else None
}
