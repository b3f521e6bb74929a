package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Empirical SCALING CURVE for the bench tail (r14, VERDICT item 3).
  *
  * The 100 TB story for the K-round graph/stream operators was argued in
  * plan shapes but never measured on a curve — the committed corpus tops
  * out at sf0.1. This main builds a deterministic ×F stretch of the input
  * tables (builder-side fixture under `outRoot`, NEVER in the read-only
  * /root/testdata), then measures each tail query at 1× and F× back to
  * back and reports the slope med(F×)/med(1×). A ≤~linear slope validates
  * the round structure (banded edges, keyed CC rounds, bounded grids); a
  * superlinear one localizes the operator to restructure.
  *
  * Stretch semantics — copies must be DISJOINT, not identical: a plain
  * self-union would near-dup-link every document to its 7 clones (pair
  * blowup ×64 by construction, not by defect) and merge every graph copy.
  * So each copy k remaps its entity ids (`id*F + k`, original dtype kept)
  * and, for documents, salts every TOKEN with the copy id — within-copy
  * similarity structure is isomorphic to the original, cross-copy overlap
  * is zero. Events keep their timestamps (same time range, F× the users ⇒
  * F× the per-window stream state, the honest stream stretch).
  *
  * Usage: runMain graft.ScalingCurve [baseSfDir] [outRoot] [factor]
  *   defaults: /root/testdata/sf0.1  target/scaling  8
  * Env: SPARK_GRAFT_CPUS (default 32), SPARK_GRAFT_SCALING_QUERIES
  * (comma list; default = the r13 tail five), SPARK_GRAFT_SCALING_DETAIL
  * (default target/scaling_detail.jsonl; commit per round as
  * SCALING_r{N}.jsonl).
  */
object ScalingCurve {

  // JOIN-KEY CLOSURE (r15, ADVICE): every FK/PK pair among stretched
  // tables is remapped with the SAME (id*F + copy) rule — l_orderkey ↔
  // o_orderkey, l_partkey ↔ p_partkey, l_suppkey ↔ s_suppkey, o_custkey ↔
  // c_custkey — so any join among them keeps its original per-copy fanout
  // (r14 stretched lineitem's part/supp keys but not l_orderkey, and left
  // part/orders unstretched: a lineitem⋈orders scaling query would have
  // measured an 8× artificial fanout and lineitem⋈part dangling keys;
  // latent then — q156/q418 used lineitem standalone — closed now).
  // nation/region stay unstretched by design: they are bounded dims
  // (25/5 rows at every scale factor), and stretched tables' nationkey
  // columns are NOT remapped so dim joins keep resolving.
  private val Stretched =
    Set("documents", "events", "lineitem", "supplier", "embeddings",
      "customer", "orders", "part")

  private val DefaultQueries = Seq(
    "q101_dedup_components", "q410_graph_modularity",
    "q255_personalized_ppr", "q85_stream_stream_join", "q325_grid_dbscan")

  private def stretch(df: DataFrame, spark: SparkSession, table: String,
      f: Int): DataFrame = {
    if (f == 1 || !Stretched(table)) return df
    val copies = spark.range(f).select(col("id").as("_cp"))
    def remap(x: DataFrame, c: String): DataFrame =
      x.withColumn(c,
        (col(c) * f + col("_cp")).cast(df.schema(c).dataType))
    val x = df.crossJoin(copies)
    val out = table match {
      case "documents" =>
        remap(x, "doc_id").withColumn("text",
          expr("array_join(transform(split(text, ' '), " +
            "t -> concat('c', CAST(_cp AS STRING), '_', t)), ' ')"))
      case "events" => remap(remap(x, "event_id"), "user_id")
      case "lineitem" =>
        remap(remap(remap(x, "l_partkey"), "l_suppkey"), "l_orderkey")
      case "orders" => remap(remap(x, "o_orderkey"), "o_custkey")
      case "part" => remap(x, "p_partkey")
      case "supplier" => remap(x, "s_suppkey")
      case "customer" =>
        // name salt must survive q189's single-character deletions
        // without colliding across copies: a DOUBLED copy digit keeps
        // any two copies' deletion variants ≥ 2 edits apart, so no
        // cross-copy candidate pairs appear (the within-copy
        // neighborhood structure is isomorphic to the original).
        remap(x, "c_custkey").withColumn("c_name",
          expr("concat('c', CAST(_cp AS STRING), CAST(_cp AS STRING)," +
            " '_', c_name)"))
      case "embeddings" =>
        // Copies must be GEOMETRICALLY disjoint, not just id-disjoint:
        // identical vectors would make every point's 7 clones exact
        // near-dups (×64 within-cluster pairs by construction, not by
        // defect). A per-(copy, dim) DETERMINISTIC SIGN FLIP is the
        // honest stretch: s_i² = 1 keeps every within-copy dot product
        // (and norm) bit-preserved — each copy is an isometric image of
        // the original similarity structure — while cross-copy dots
        // become ± sums that concentrate near 0, so no cross-copy
        // near-dup edges appear. md5(copy, i) keeps it reproducible.
        remap(x, "vec_id").withColumn("embedding",
          expr("""transform(embedding, (v, i) -> v * CAST(
                    1 - 2 * (CAST(conv(substr(md5(concat(
                        CAST(_cp AS STRING), '#', CAST(i AS STRING))),
                      1, 2), 16, 10) AS INT) % 2) AS FLOAT))"""))
    }
    out.drop("_cp")
  }

  /** Single-FILE parquet, like the driver fixture layout (q85's stream
    * source globs `events.parquet` as a leaf file; and matching layout
    * keeps the 1× measurement comparable to the committed bench). */
  private def writeSingle(df: DataFrame, dir: java.nio.file.Path,
      name: String): Unit = {
    val tmp = dir.resolve(s"_tmp_$name")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = Option(tmp.toFile.listFiles()).getOrElse(Array.empty)
      .find(_.getName.endsWith(".parquet"))
      .getOrElse(sys.error(s"no part file written for $name"))
    java.nio.file.Files.move(part.toPath, dir.resolve(s"$name.parquet"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    Option(tmp.toFile.listFiles()).getOrElse(Array.empty)
      .foreach(_.delete())
    java.nio.file.Files.deleteIfExists(tmp)
  }

  def main(args: Array[String]): Unit = {
    val baseDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val outRoot = args.lift(1).getOrElse("target/scaling")
    val factor = args.lift(2).map(_.toInt).getOrElse(8)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val qNames = sys.env.get("SPARK_GRAFT_SCALING_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(DefaultQueries)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val detailPath = sys.env.getOrElse(
      "SPARK_GRAFT_SCALING_DETAIL", "target/scaling_detail.jsonl")
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(detailPath).toAbsolutePath.getParent)
    val detail = new java.io.PrintWriter(
      new java.io.FileWriter(detailPath, false), true)
    def emit(line: String): Unit = { println(line); detail.println(line) }
    def f3(v: Double): String =
      "%.3f".formatLocal(java.util.Locale.ROOT, v)

    // ---- fixture build (idempotent: marker file per scale dir) ----
    def buildDir(f: Int): String = {
      val dir = java.nio.file.Paths.get(outRoot, s"x$f")
      val marker = dir.resolve("_GRAFT_STRETCH_DONE")
      if (java.nio.file.Files.exists(marker)) return dir.toString
      java.nio.file.Files.createDirectories(dir)
      Tables.names.foreach { t =>
        val src = spark.read.schema(Tables.schema(spark, baseDir, t))
          .parquet(s"$baseDir/$t.parquet")
        writeSingle(stretch(src, spark, t, f), dir, t)
        System.err.println(s"[scaling] built x$f/$t")
      }
      java.nio.file.Files.createFile(marker)
      dir.toString
    }
    val dirs = Seq(1 -> buildDir(1), factor -> buildDir(factor))

    // ---- measurement: Bench's discipline (warm + 3, teardown, cal) ----
    def teardown(): Unit = {
      graft.queries.Relational.clearShared()
      graft.queries.PipelineOps.clearShared()
      spark.sharedState.cacheManager.clearCache()
      val keep = graft.engine.Artifacts.pinnedRddIds(spark)
      spark.sparkContext.getPersistentRDDs
        .filterNot { case (id, _) => keep.contains(id) }
        .values.foreach(_.unpersist(blocking = true))
      System.gc()
    }
    def calibrate(): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, 8000000L, 1L, 32)
        .select((col("id") % 1000).as("k"), xxhash64(col("id")).as("h"))
        .groupBy("k").agg(avg("h").as("a"), max("h").as("m"),
          count(lit(1)).as("n"))
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    calibrate() // JVM/codegen warm-up for the calibration plan itself
    val slopes = qNames.flatMap { name =>
      val fn = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query $name"))
      // x1 and xF adjacently, each with its own calibration sample, so a
      // host-load drift inflates both sides of the slope together
      val meds = dirs.map { case (f, dir) =>
        teardown()
        val cal = calibrate()
        def run(): Option[Double] = {
          val t0 = System.nanoTime()
          try {
            fn(spark, dir).write.format("noop").mode("overwrite").save()
            Some((System.nanoTime() - t0) / 1e9)
          } catch { case e: Throwable =>
            System.err.println(s"[scaling] $name x$f FAILED: " +
              e.getMessage)
            None
          }
        }
        val warm = run()
        val ok = (1 to 3).flatMap(_ => run())
        teardown()
        val med = if (ok.nonEmpty) Some(median(ok)) else None
        emit(s"""{"scaling_query":"$name","scale":$f,"sec":${
          med.map(f3).getOrElse("null")},"cal":${f3(cal)},"warm":${
          warm.map(f3).getOrElse("null")},"runs":${
          ok.map(f3).mkString("[", ",", "]")}}""")
        f -> med
      }
      for (m1 <- meds.head._2; mf <- meds.last._2) yield
        (name, m1, mf, mf / m1)
    }
    val qJson = slopes.map { case (n, m1, mf, s) =>
      s""""$n":{"x1":${f3(m1)},"x$factor":${f3(mf)},"slope":${f3(s)}}"""
    }.mkString("{", ",", "}")
    emit(s"""{"metric":"scaling_slopes","factor":$factor,"unit":"x","base":"$baseDir","queries":$qJson}""")
    detail.close()
    spark.stop()
  }
}
