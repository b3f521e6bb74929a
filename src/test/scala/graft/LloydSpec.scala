package graft

import java.nio.file.Paths

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{Lloyd, VectorExprs}
import graft.queries.VectorOps

/** Parity and semantics of the compiled Lloyd kernel behind the declared
  * vector-index artifacts. The reference is the DataFrame formulation the
  * kernel replaced (broadcast join, `groupBy(min(struct))`, `posexplode`,
  * `avg`, `collect_list`); it lives only here. Each artifact shape —
  * pq-codes-lut, ivf-coarse, residual-pq — must equal the reference in
  * schema (nullability included) and rows, on the committed sf0.001
  * corpus, on a tie-heavy synthetic corpus and on an empty one.
  */
class LloydSpec extends AnyFunSuite with SparkFixture {
  import LloydSpec._

  private val sf = Paths.get("qbench/data/sf0.001").toAbsolutePath.toString
  private def corpus: DataFrame =
    Tables.ld(spark, sf, "embeddings").select("vec_id", "embedding")

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map {
      case a: scala.collection.Seq[_] => a.mkString("[", ",", "]")
      case v => String.valueOf(v)
    }.mkString("|")).toSeq.sorted

  private def assertSame(name: String, got: DataFrame, ref: DataFrame): Unit = {
    assert(got.schema == ref.schema, s"$name schema")
    val (g, r) = (rows(got), rows(ref))
    assert(g.size == r.size, s"$name row count")
    assert(g == r, s"$name rows: first difference " +
      g.zip(r).find { case (a, b) => a != b })
  }

  private def assertPinned(name: String, df: DataFrame): Unit =
    assert(df.queryExecution.analyzed.getClass.getSimpleName == "LogicalRDD",
      s"$name must be a pinned (checkpointed) frame")

  private def checkAllShapes(emb: DataFrame): Unit = {
    val (codes, lut, c1) = VectorOps.pqBuild(spark, emb)
    val (rCodes, rLut, rC1) = Reference.pq(emb)
    assertSame("pq codes", codes, rCodes)
    assertSame("pq lut", lut, rLut)
    assertSame("pq c1", c1, rC1)
    val ivf = VectorOps.ivfBuild(spark, emb)
    val (rIvfC1, rLists) = Reference.ivf(emb)
    assertSame("ivf c1", ivf.c1, rIvfC1)
    assertSame("ivf lists", ivf.lists, rLists)
    val (rcc1, rcodes) = VectorOps.residualBuild(spark, emb, ivf.book)
    val (refCoarse, refRcc1, refRcodes) = Reference.residual(emb)
    assertSame("residual coarse c1", ivf.c1, refCoarse)
    assertSame("residual rcc1", rcc1, refRcc1)
    assertSame("residual rcodes", rcodes, refRcodes)
    Seq("codes" -> codes, "lut" -> lut, "c1" -> c1, "ivf c1" -> ivf.c1,
      "lists" -> ivf.lists, "rcc1" -> rcc1, "rcodes" -> rcodes)
      .foreach { case (n, df) => assertPinned(n, df) }
  }

  test("sf0.001 corpus: all three artifact shapes equal the DataFrame " +
    "reference") {
    val emb = corpus
    assert(emb.count() == 500)
    checkAllShapes(emb)
  }

  test("tie-heavy corpus: a duplicated init vector ends empty and is " +
    "dropped, and equal rounded distances go to the lowest cid") {
    val emb = tieCorpus
    checkAllShapes(emb)
    // vec 1 duplicates vec 0 and vec 3 duplicates vec 2 in every dim, so
    // centroids 1 and 3 tie with 0 and 2 for every vector and never win
    val ivf = VectorOps.ivfBuild(spark, emb)
    val cids = ivf.c1.collect().map(_.getLong(0)).toSet
    assert(!cids.contains(1L) && !cids.contains(3L) && cids.contains(0L),
      s"init centroids 1 and 3 must be dropped, got $cids")
    val lists = ivf.lists.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lists(1L) == 0L && lists(3L) == 2L,
      "a tie on the rounded distance goes to the lowest cid")
    val (codes, _, c1) = VectorOps.pqBuild(spark, emb)
    assert(c1.filter(col("cid") === 1).count() == 0)
    assert(codes.filter(col("code") === 1).count() == 0)
  }

  test("empty corpus: every artifact frame is empty, schemas unchanged") {
    val emb = corpus.filter(lit(false))
    checkAllShapes(emb)
    val (codes, lut, c1) = VectorOps.pqBuild(spark, emb)
    assert(codes.count() == 0 && lut.count() == 0 && c1.count() == 0)
  }

  test("a null vector element is the elementsNotNull error, naming the " +
    "vec_id") {
    val emb = corpus.select(col("vec_id"),
      when(col("vec_id") === 37,
        transform(col("embedding"), (x, i) =>
          when(i === 5, lit(null).cast("float")).otherwise(x)))
        .otherwise(col("embedding")).as("embedding"))
    val seam = intercept[Exception] {
      emb.select(VectorExprs.elementsNotNull(col("embedding"))).collect()
    }
    val expected = VectorExprs.nullElementMessage(5)
    assert(messages(seam).contains(expected))
    Seq[DataFrame => Any](
      e => VectorOps.pqBuild(spark, e),
      e => VectorOps.ivfBuild(spark, e)).foreach { build =>
      val err = intercept[Exception](build(emb))
      assert(messages(err).contains(s"$expected (vec_id 37)"),
        s"kernel must raise the seam's error with the vec_id: ${messages(err)}")
    }
    // a vector of the wrong length would pad the fold with nulls: declared
    val short = corpus.select(col("vec_id"),
      when(col("vec_id") === 12, slice(col("embedding"), 1, 63))
        .otherwise(col("embedding")).as("embedding"))
    val err = intercept[Exception](VectorOps.pqBuild(spark, short))
    assert(messages(err).contains("vector of 63 elements, expected 64 (vec_id 12)"))
  }

  test("round6 and roundHalfUp(_, 0) equal Spark's round on random " +
    "doubles and exact half-way values") {
    def samples[A](g: Gen[A], n: Int): Seq[A] =
      (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(11L + i)))
    val random = samples(Gen.oneOf(
      Gen.choose(0.0, 1.0), Gen.choose(0.0, 100.0), Gen.choose(-1e4, 1e4),
      Gen.choose(0.0, 1e-5)), 400)
    // k·10⁻⁶ + 5·10⁻⁷: the decimal a double prints as ends in 5 at the 7th
    // place, so HALF_UP on the printed decimal rounds it away from zero
    val halfWay = samples(Gen.choose(0L, 99999999L), 300)
      .map(k => BigDecimal(k) / 1000000 + BigDecimal("0.0000005"))
      .map(_.toDouble)
    val halfWay0 = samples(Gen.choose(0L, 9999999L), 100).map(_ + 0.5)
    val xs = random ++ halfWay ++ halfWay0 ++
      Seq(0.0, -0.0, 0.5, 1.5, 2.5, 1e-7, 4.9999995, 123.4567895)
    import spark.implicits._
    val got = xs.toDF("x")
      .select(col("x"), round(col("x"), 6).as("r6"), round(col("x"), 0).as("r0"))
      .collect()
    assert(got.length == xs.size)
    got.foreach { r =>
      val x = r.getDouble(0)
      assert(Lloyd.round6(x) == r.getDouble(1), s"round($x, 6)")
      assert(Lloyd.roundHalfUp(x, 0) == r.getDouble(2), s"round($x, 0)")
    }
    assert(halfWay.exists(x => Lloyd.round6(x) > x),
      "half-way values must round up")
  }

  private def messages(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString(" / ")

  /** 40 vectors of 64 dims over {0, 1, 2}: distances tie constantly. */
  private def tieCorpus: DataFrame = {
    val vecs = (0 until 40).map { id =>
      val base = id match {
        case 1 => 0
        case 3 => 2
        case n => n
      }
      id.toLong -> (0 until 64).map(i => ((base * 7 + i * (base % 5 + 1)) % 3).toFloat)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(
      vecs.map { case (id, v) => Row(id, v) }, 3),
      new StructType().add("vec_id", LongType)
        .add("embedding", ArrayType(FloatType)))
  }
}

object LloydSpec {

  /** The retired DataFrame formulation of the three build-time
    * quantizers, kept verbatim as the kernel's reference. */
  object Reference {
    private def l2(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
        lit(0.0), (acc, z) => acc + z)

    private def kAssign(v: DataFrame, cent: DataFrame): DataFrame =
      v.crossJoin(broadcast(cent))
        .select(col("vec_id"), col("ce"), col("cid"),
          round(l2(col("ce"), col("cc")), 6).as("d"))
        .groupBy("vec_id")
        .agg(min(struct(col("d"), col("cid"))).as("m"),
          first("ce").as("ce"))
        .select(col("vec_id"), col("ce"),
          col("m.cid").as("cid"), col("m.d").as("d"))

    private def kRecenter(a: DataFrame): DataFrame =
      a.select(col("cid"), posexplode(col("ce")).as(Seq("pos", "x")))
        .groupBy("cid", "pos").agg(round(avg("x"), 6).as("cv"))
        .groupBy("cid")
        .agg(array_sort(collect_list(struct(col("pos"), col("cv")))).as("pc"))
        .select(col("cid"), expr("transform(pc, q -> q.cv)").as("cc"))

    private def doubles(emb: DataFrame): DataFrame =
      emb.select(col("vec_id"), col("embedding").cast("array<double>").as("ce"))

    /** (codes, lut, c1) of pq-codes-lut. */
    def pq(emb: DataFrame): (DataFrame, DataFrame, DataFrame) = {
      val M = 4; val K = 16; val SUB = 16
      val sv = doubles(emb)
        .select(col("vec_id"), explode(expr(
          s"""transform(sequence(0, ${M - 1}),
              m -> struct(m AS m, slice(ce, m * $SUB + 1, $SUB) AS sub))"""))
          .as("x"))
        .select(col("vec_id"), col("x.m").as("m"), col("x.sub").as("sub"))
      val c0 = sv.filter(col("vec_id") < K)
        .select(col("m"), col("vec_id").as("cid"), col("sub").as("cc"))
      def assign(cent: DataFrame): DataFrame =
        sv.join(broadcast(cent), Seq("m"))
          .select(col("vec_id"), col("m"), col("sub"), col("cid"),
            round(l2(col("sub"), col("cc")), 6).as("dd"))
          .groupBy("vec_id", "m")
          .agg(min(struct(col("dd"), col("cid"))).as("mm"),
            first("sub").as("sub"))
          .select(col("vec_id"), col("m"), col("sub"), col("mm.cid").as("cid"))
      val c1 = assign(c0)
        .select(col("m"), col("cid"), posexplode(col("sub")).as(Seq("pos", "x")))
        .groupBy("m", "cid", "pos").agg(round(avg("x"), 6).as("cv"))
        .groupBy("m", "cid")
        .agg(array_sort(collect_list(struct(col("pos"), col("cv")))).as("pc"))
        .select(col("m"), col("cid"), expr("transform(pc, q -> q.cv)").as("cc"))
        .localCheckpoint()
      val codes = assign(c1).select(col("vec_id"), col("m"), col("cid").as("code"))
      val lut = sv.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("m"), col("sub").as("qsub"))
        .join(broadcast(c1), Seq("m"))
        .select(col("q_id"), col("m"), col("cid").as("code"),
          round(l2(col("qsub"), col("cc")) * 1e6, 0).cast("bigint").as("pdu"))
      (codes, lut, c1)
    }

    /** (c1, lists) of ivf-coarse. */
    def ivf(emb: DataFrame): (DataFrame, DataFrame) = {
      val v = doubles(emb)
      val c0 = v.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cid"), col("ce").as("cc"))
      val c1 = kRecenter(kAssign(v, c0)).localCheckpoint()
      (c1, kAssign(v, c1).select(col("vec_id"), col("cid")))
    }

    /** (coarse c1, rcc1, rcodes) of residual-pq, coarse quantizer
      * retrained as the retired build did. */
    def residual(emb: DataFrame): (DataFrame, DataFrame, DataFrame) = {
      val v = doubles(emb)
      val c0 = v.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cid"), col("ce").as("cc"))
      val c1 = kRecenter(kAssign(v, c0)).localCheckpoint()
      val res = kAssign(v, c1)
        .join(broadcast(c1), "cid")
        .select(col("vec_id"), col("cid"),
          zip_with(col("ce"), col("cc"), (x, y) => x - y).as("re"))
        .localCheckpoint()
      val rsv = res.select(col("vec_id"), col("cid"), explode(expr(
        """transform(sequence(0, 3),
            m -> struct(m AS m, slice(re, m * 16 + 1, 16) AS sub))"""))
        .as("x"))
        .select(col("vec_id"), col("cid"), col("x.m").as("m"),
          col("x.sub").as("sub"))
      val rc0 = rsv.filter(col("vec_id") < 16)
        .select(col("m"), col("vec_id").as("rcid"), col("sub").as("rcc"))
      def rAssign(cent: DataFrame): DataFrame =
        rsv.join(broadcast(cent), Seq("m"))
          .select(col("vec_id"), col("m"), col("sub"), col("rcid"),
            round(l2(col("sub"), col("rcc")), 6).as("dd"))
          .groupBy("vec_id", "m")
          .agg(min(struct(col("dd"), col("rcid"))).as("mm"),
            first("sub").as("sub"))
          .select(col("vec_id"), col("m"), col("sub"), col("mm.rcid").as("rcid"))
      val rcc1 = rAssign(rc0)
        .select(col("m"), col("rcid"), posexplode(col("sub")).as(Seq("pos", "x")))
        .groupBy("m", "rcid", "pos").agg(round(avg("x"), 6).as("cv"))
        .groupBy("m", "rcid")
        .agg(array_sort(collect_list(struct(col("pos"), col("cv")))).as("pc"))
        .select(col("m"), col("rcid"), expr("transform(pc, q -> q.cv)").as("rcc"))
        .localCheckpoint()
      val rcodes = rAssign(rcc1)
        .select(col("vec_id"), col("m"), col("rcid").as("code"))
        .join(res.select("vec_id", "cid"), "vec_id")
      (c1, rcc1, rcodes)
    }
  }
}
