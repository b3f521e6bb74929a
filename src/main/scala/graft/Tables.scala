package graft

import java.util.concurrent.ConcurrentHashMap
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Table loading for the driver's parquet corpus (TESTDATA.md).
  *
  * Mirrors the reference's `Catalog` (reference `catalog.rs:20-65`): a named
  * lookup of tables whose schemas are already known. Each table's schema is
  * resolved once per version of its file ([[schema]]); every scan is then a
  * lazy parquet scan bound to that schema, so Catalyst sees a
  * `FileSourceScanExec` it can push filters/projections into and building
  * the scan starts no Spark job.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** The session confs that change how a parquet file's schema maps to a
    * Spark schema; their values are part of the catalog key. */
  private val SchemaConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.caseSensitive")

  /** One version of one file, read under one setting of [[SchemaConfs]]. */
  private final case class FileVersion(path: String, length: Long,
      modified: Long, confs: Seq[Option[String]])

  // Schemas do not depend on the SparkContext, so the catalog outlives
  // context restarts (unlike engine.Artifacts' pinned blocks).
  private val catalog = new ConcurrentHashMap[FileVersion, StructType]()

  /** The Spark schema of table `name` under `dir`, as
    * `spark.read.parquet(path).schema` gives it under the session's current
    * confs. Spark's parquet schema inference starts one Spark job to read
    * the footer; the catalog pays it once per file version (path, length,
    * modification time: one `getFileStatus`) and conf setting. A directory,
    * or a path that cannot be stat'ed, is inferred every time. The
    * inference runs outside any map lock; concurrent misses may both infer,
    * and the first to finish is kept. */
  def schema(spark: SparkSession, dir: String, name: String): StructType = {
    val path = s"$dir/$name.parquet"
    def infer(): StructType = spark.read.parquet(path).schema
    val file = new Path(path)
    val status =
      try Some(file.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .getFileStatus(file))
      catch { case _: java.io.IOException => None }
    status.filter(_.isFile).fold(infer()) { st =>
      val key = FileVersion(st.getPath.toString, st.getLen,
        st.getModificationTime, SchemaConfs.map(spark.conf.getOption))
      Option(catalog.get(key)).getOrElse {
        val inferred = infer()
        Option(catalog.putIfAbsent(key, inferred)).getOrElse(inferred)
      }
    }
  }

  /** Lazy scan of one table; column pruning + predicate pushdown apply.
    *
    * `events.ts` has shipped under two physical encodings across fixture
    * vintages: INT64 TIMESTAMP(NANOS) — which Spark's parquet reader rejects
    * ([PARQUET_TYPE_ILLEGAL]) unless read as a raw long — and plain
    * timestamp[us] (isAdjustedToUTC=false → Spark reads TIMESTAMP_NTZ). The
    * engine's contract is a session-local TimestampType `ts` (what every
    * event/stream query and r1-r9's green oracles were built against), so we
    * normalize BY READ TYPE rather than assuming a vintage:
    *   - LongType (nanos file + `nanosAsLong`): integer `div 1000` →
    *     `timestamp_micros`. Integer div, not `/1000.0` — epoch-nanos exceed
    *     2^53 and would lose precision through a double. Matches how DuckDB
    *     casts TIMESTAMP_NS to its microsecond TIMESTAMP, so oracles line up.
    *   - TimestampNTZType (micros file): cast to TimestampType. Session tz is
    *     pinned UTC in every entrypoint, so the wall-clock reading is
    *     identical to the nanos path (and to DuckDB's naive TIMESTAMP).
    *   - TimestampType: already the contract; pass through.
    *
    * The scan is bound to the cataloged [[schema]], so after the first read
    * of a file version `ld` starts no Spark job. */
  def ld(spark: SparkSession, dir: String, name: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = spark.read.schema(schema(spark, dir, name))
      .parquet(s"$dir/$name.parquet")
    if (name == "events") normalizeEventsTs(df) else df
  }

  /** Normalize `ts` to the TimestampType contract by READ TYPE (see [[ld]]).
    * Works on batch and streaming DataFrames alike — the branch is on the
    * analyzed schema, resolved before any data moves. */
  def normalizeEventsTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    if (!df.schema.fieldNames.contains("ts")) df
    else df.schema("ts").dataType match {
      case LongType =>
        df.withColumn("ts",
          org.apache.spark.sql.functions.timestamp_micros(
            org.apache.spark.sql.functions.expr("ts div 1000")))
      case TimestampNTZType =>
        df.withColumn("ts", df("ts").cast(TimestampType))
      case _ => df
    }
  }

  /** Register all tables as temp views named exactly like the files, so
    * `spark.sql` text matches the DuckDB oracle text 1:1. */
  def views(spark: SparkSession, dir: String): Unit =
    names.foreach(n => ld(spark, dir, n).createOrReplaceTempView(n))

  /** Register only the named tables, so SQL queries bind just what they
    * touch. Each registration is a catalog lookup plus one file stat; only
    * a table's first read (per file version) infers its schema. */
  def view(spark: SparkSession, dir: String, only: String*): Unit =
    only.foreach(n => ld(spark, dir, n).createOrReplaceTempView(n))
}
