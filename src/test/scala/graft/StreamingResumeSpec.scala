package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** Checkpoint-resume semantics — the property a 100 TB incremental
  * pipeline actually relies on: a restarted query picks up from the
  * checkpointed source offsets (no reprocessing, no loss) and the file
  * sink commits exactly-once, so two AvailableNow runs over a growing
  * directory produce each input row exactly once even though run 2
  * re-lists run 1's files. The reference has no streaming surface at all
  * (SURVEY §2.8); this pins the Spark-native contract our streaming
  * queries (q74-q85) build on.
  */
class StreamingResumeSpec extends AnyFunSuite with SparkFixture {

  test("AvailableNow + checkpoint: second run processes only new files; " +
    "file sink stays exactly-once across the restart") {
    val root = Files.createTempDirectory("graft_resume").toString
    val src = s"$root/src"; val sink = s"$root/sink"; val ckpt = s"$root/ckpt"
    Files.createDirectories(Paths.get(src))

    val events = Tables.ld(spark, "/root/testdata/sf0.001", "events")
      .select("event_id", "user_id", "event_type", "ts")
    val n = events.count()
    val half1 = events.filter(col("event_id") % 2 === 0)
    val half2 = events.filter(col("event_id") % 2 =!= 0)

    // batch 1 lands, first run drains it
    half1.coalesce(1).write.mode("append").parquet(src)
    val schema = spark.read.parquet(src).schema
    def runOnce(): Unit = {
      val q = spark.readStream.schema(schema).parquet(src)
        .writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    runOnce()
    val afterRun1 = spark.read.parquet(sink).count()
    assert(afterRun1 == half1.count(), "run 1 must drain exactly batch 1")

    // batch 2 lands, restarted query must resume from the checkpoint:
    // batch 1's files are re-listable but must NOT be reprocessed
    half2.coalesce(1).write.mode("append").parquet(src)
    runOnce()

    val out = spark.read.parquet(sink)
    assert(out.count() == n,
      s"exactly-once broken: ${out.count()} rows vs $n input rows")
    assert(out.select("event_id").distinct().count() == n,
      "duplicate event_ids — batch 1 was reprocessed after the restart")
  }

  test("RocksDB state store: the stateful aggregation runs on " +
    "RocksDBStateStoreProvider (spill-to-disk state — the 100 TB " +
    "configuration) and its state survives a checkpointed restart") {
    import scala.jdk.CollectionConverters._
    val root = Files.createTempDirectory("graft_rocks").toString
    val src = s"$root/src"; val ckpt = s"$root/ckpt"
    Files.createDirectories(Paths.get(src))
    val events = Tables.ld(spark, "/root/testdata/sf0.001", "events")
      .select("event_id", "event_type")
    val half1 = events.filter(col("event_id") % 2 === 0)
    val half2 = events.filter(col("event_id") % 2 =!= 0)
    val expect = events.groupBy("event_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    half1.coalesce(1).write.mode("append").parquet(src)
    val schema = spark.read.parquet(src).schema
    val prev = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state." +
        "RocksDBStateStoreProvider")
    try {
      def runOnce(sinkName: String) = {
        val q = spark.readStream.schema(schema).parquet(src)
          .groupBy("event_type").count()
          .writeStream.format("memory").queryName(sinkName)
          .outputMode("complete")
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination(); q
      }
      val q1 = runOnce("rocks_run1")
      assert(q1.recentProgress.exists(_.stateOperators.exists(
        _.customMetrics.keySet.asScala.exists(_.contains("rocksdb")))),
        "state operator must report rocksdb metrics — provider not engaged")
      half2.coalesce(1).write.mode("append").parquet(src)
      runOnce("rocks_run2")
      val got = spark.table("rocks_run2")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got == expect,
        s"restored RocksDB state must carry batch-1 counts: $got vs $expect")
    } finally {
      prev match {
        case Some(v) => spark.conf.set(
          "spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset(
          "spark.sql.streaming.stateStore.providerClass")
      }
    }
  }
}
