package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, GraftPlanBridge}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The table catalog (`Tables.schema`): each corpus file's schema is
  * inferred once per file version and conf setting, and every later read
  * binds to it without starting a Spark job. Scratch tables live under
  * `target/tables_catalog/`; the sf0.001 corpus is only read. */
class TablesCatalogSpec extends AnyFunSuite with SparkFixture {
  // The sf0.001 corpus as committed in the checkout (the benchmark's
  // byte-identical copy), so the spec reads nothing outside the repo.
  private val sf = Paths.get("qbench/data/sf0.001").toAbsolutePath.toString
  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"
  private val BinaryAsString = "spark.sql.parquet.binaryAsString"
  // Small parquet files written without Spark's schema metadata, so the
  // schema confs act on them as they do on the driver's corpus.
  private val resources =
    Paths.get("src/test/resources/catalog").toAbsolutePath.toString

  /** `f`'s result and the Spark jobs it started, counted by a listener
    * with the listener bus drained before and after. */
  private def jobsOf[T](f: => T): (T, Int) = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    GraftPlanBridge.drainListeners(sc)
    sc.addSparkListener(counter)
    try {
      val r = f
      GraftPlanBridge.drainListeners(sc)
      (r, jobs.get)
    } finally sc.removeSparkListener(counter)
  }

  private def delete(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)

  /** An empty scratch directory `target/tables_catalog/<tag>`. */
  private def scratch(tag: String): Path = {
    val d = Paths.get("target", "tables_catalog", tag).toAbsolutePath
    delete(d)
    Files.createDirectories(d)
  }

  /** Writes `df` as the single file `<dir>/<name>.parquet`, the corpus
    * layout (a plain Spark write would make a directory). */
  private def writeTable(df: DataFrame, dir: Path, name: String): Unit = {
    val tmp = dir.resolve(s"_tmp_$name")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = Files.list(tmp).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.move(part, dir.resolve(s"$name.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    delete(tmp)
  }

  test("the catalog schema equals Spark's inference for all ten tables") {
    spark.conf.set(NanosAsLong, "true")
    Tables.names.foreach { t =>
      assert(Tables.schema(spark, sf, t) ==
        spark.read.parquet(s"$sf/$t.parquet").schema, t)
    }
  }

  test("a nanos-encoded events.ts catalogs as LongType under nanosAsLong") {
    // A three-row TIMESTAMP(NANOS) file, the encoding of an older fixture
    // vintage; Spark cannot write it, so it is committed as a resource.
    spark.conf.set(NanosAsLong, "true")
    val cataloged = Tables.schema(spark, resources, "events")
    assert(cataloged("ts").dataType == LongType)
    assert(cataloged == spark.read.parquet(s"$resources/events.parquet").schema)
    val ts = Tables.ld(spark, resources, "events")
      .select(unix_micros(col("ts"))).collect().map(_.getLong(0)).sorted
    assert(ts.toSeq ==
      Seq(1709296496789012L, 1709296500000000L, 1709300000123456L))
  }

  test("a second ld or view of an unchanged file starts no Spark job") {
    val dir = scratch("unchanged")
    Seq("events", "lineitem").foreach(t =>
      Files.copy(Paths.get(sf, s"$t.parquet"), dir.resolve(s"$t.parquet")))
    val d = dir.toString
    try {
      val (_, cold) = jobsOf(Tables.view(spark, d, "events", "lineitem"))
      assert(cold > 0, "the first read of a file version infers its schema")
      val (ev, warm) = jobsOf {
        Tables.view(spark, d, "events", "lineitem")
        Tables.ld(spark, d, "events")
      }
      assert(warm == 0, s"a cataloged read started $warm Spark jobs")
      assert(ev.schema("ts").dataType == TimestampType)
      assert(ev.count() == Tables.ld(spark, sf, "events").count())
      assert(spark.table("lineitem").count() ==
        Tables.ld(spark, sf, "lineitem").count())
    } finally Seq("events", "lineitem").foreach(spark.catalog.dropTempView)
  }

  test("a rewritten file gets a fresh schema and its new rows") {
    val dir = scratch("rewritten")
    val d = dir.toString
    Files.copy(Paths.get(sf, "region.parquet"), dir.resolve("region.parquet"))
    val before = Tables.ld(spark, d, "region")
    val n = before.count()
    assert(n > 0 && !before.columns.contains("copy"))
    // Two copies of every row and one more column: a different row count
    // and a different schema at the same path.
    writeTable(before.crossJoin(spark.range(2).toDF("copy")), dir, "region")
    val after = Tables.ld(spark, d, "region")
    assert(after.schema == spark.read.parquet(s"$d/region.parquet").schema)
    assert(after.columns.contains("copy"))
    assert(after.count() == 2 * n)
  }

  test("flipping spark.sql.parquet.binaryAsString misses the cache") {
    // An unannotated BINARY column (a file Spark writes would carry its
    // own schema in the footer, which the conf does not override).
    val d = resources
    try {
      spark.conf.set(BinaryAsString, "false")
      assert(Tables.schema(spark, d, "blobs")("b").dataType == BinaryType)
      spark.conf.set(BinaryAsString, "true")
      val (flipped, missJobs) = jobsOf(Tables.schema(spark, d, "blobs"))
      assert(flipped("b").dataType == StringType)
      assert(missJobs > 0, "a flipped conf must re-infer the schema")
      spark.conf.set(BinaryAsString, "false")
      val (back, hitJobs) = jobsOf(Tables.schema(spark, d, "blobs"))
      assert(back("b").dataType == BinaryType && hitJobs == 0)
    } finally spark.conf.unset(BinaryAsString)
  }
}
