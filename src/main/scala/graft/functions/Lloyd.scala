package graft.functions

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{ArrayType, FloatType}

/** One compiled Lloyd kernel: the training loop of every declared
  * build-time quantizer (`VectorOps`' PQ codebook, IVF coarse quantizer and
  * residual PQ), over a corpus of a few thousand vectors.
  *
  * Written as a DataFrame chain, one Lloyd step was a broadcast join, a
  * `groupBy(min(struct))`, a `posexplode` and two more `groupBy`s with
  * interpreted `zip_with`/`aggregate` lambdas, and each output was its own
  * action: q119's build ran 18 jobs for a millisecond of arithmetic. Here a
  * step is ONE `mapPartitions` pass that assigns and accumulates per-
  * partition (sum, count) partials, merged on the driver; codes are one
  * more map-side pass (MLlib's `KMeans` does one aggregate pass per step,
  * the same fusion).
  *
  * The semantics are the DataFrame chain's, bit for bit:
  *   - init: the vectors with `vec_id < k`, `cid = vec_id`, ascending;
  *   - distance: the sequential double fold `acc = 0.0; acc + (x - y)²`
  *     (what `aggregate(zip_with(..))` computes), rounded HALF_UP to 6
  *     places exactly as Spark's `round(_, 6)` rounds a double; the argmin
  *     is on (rounded distance, cid) under Spark's double ordering;
  *   - recenter: per (space, cid) `round6(sum / count)`, with each
  *     partition's partial summed in row order and the partials merged in
  *     partition-index order (Spark's `avg`: buffer 0.0, update `+ x`,
  *     merge `+ partial`); a centroid that gets no vector is dropped, as
  *     the `groupBy` drops it.
  * A null vector, a null element or a vector of the wrong length is a
  * declared error naming the `vec_id` (the DataFrame chain ranked a null
  * distance first and returned a wrong centroid silently).
  */
object Lloyd {

  /** A training vector, widened to double, with the inverted list it
    * belongs to (`-1` outside a residual build). */
  final case class Vec(id: Long, x: Array[Double], list: Long = -1L)

  /** Centroids of `spaces` subspaces of `width` dims each: per space, the
    * centroid ids in ascending order and their vectors. Ascending ids make
    * the first strictly nearer centroid the (distance, cid) argmin. */
  final case class Codebook(width: Int, cids: Array[Array[Long]],
      cents: Array[Array[Array[Double]]]) {
    def spaces: Int = cids.length

    /** Index of `x`'s nearest centroid in space `m`; -1 if it has none. */
    def nearest(x: Array[Double], m: Int): Int = {
      val cs = cents(m)
      var best = -1
      var bestD = 0.0
      var j = 0
      while (j < cs.length) {
        val d = round6(l2(x, m * width, cs(j), 0, width))
        if (best < 0 || before(d, bestD)) { best = j; bestD = d }
        j += 1
      }
      best
    }

    /** (space, cid, centroid) in (space, cid) order. */
    def rows: Seq[(Int, Long, Array[Double])] =
      for (m <- 0 until spaces; j <- cids(m).indices)
        yield (m, cids(m)(j), cents(m)(j))
  }

  /** Spark's `round(x, scale)` on a double: HALF_UP on the shortest decimal
    * that prints `x` (`BigDecimal.valueOf`), NaN and infinities unchanged. */
  def roundHalfUp(x: Double, scale: Int): Double =
    if (x.isNaN || x.isInfinite) x
    else java.math.BigDecimal.valueOf(x)
      .setScale(scale, java.math.RoundingMode.HALF_UP).doubleValue

  def round6(x: Double): Double = roundHalfUp(x, 6)

  /** Σ (a[i] − b[i])² over `n` elements, folded left from 0.0. */
  def l2(a: Array[Double], aOff: Int, b: Array[Double], bOff: Int,
      n: Int): Double = {
    var acc = 0.0
    var i = 0
    while (i < n) {
      val z = a(aOff + i) - b(bOff + i)
      acc = acc + z * z
      i += 1
    }
    acc
  }

  /** Spark's ascending double order for non-negative distances: NaN sorts
    * after every number. */
  private def before(a: Double, b: Double): Boolean =
    !a.isNaN && (b.isNaN || a < b)

  /** The `(vec_id bigint, embedding array<float|double>)` rows of `df` as
    * vectors of exactly `dim` elements. */
  def vectors(df: DataFrame, dim: Int): RDD[Vec] = {
    val isFloat =
      df.schema(1).dataType.asInstanceOf[ArrayType].elementType == FloatType
    df.queryExecution.toRdd.map { r =>
      if (r.isNullAt(0)) throw new IllegalArgumentException(
        "graft_lloyd: null vec_id in the training corpus")
      val id = r.getLong(0)
      if (r.isNullAt(1)) throw new IllegalArgumentException(
        s"graft_lloyd: null vector (vec_id $id)")
      val a = r.getArray(1)
      val n = a.numElements()
      if (n != dim) throw new IllegalArgumentException(
        s"graft_lloyd: vector of $n elements, expected $dim (vec_id $id)")
      val x = new Array[Double](n)
      var i = 0
      while (i < n) {
        if (a.isNullAt(i)) throw new IllegalArgumentException(
          s"${VectorExprs.nullElementMessage(i)} (vec_id $id)")
        x(i) = if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)
        i += 1
      }
      Vec(id, x)
    }
  }

  /** The init codebook: the vectors with `id < k`, split into `spaces`
    * subspaces of `width` dims, `cid = id` ascending. */
  def init(seeds: Seq[Vec], spaces: Int, width: Int, k: Int): Codebook = {
    val vs = seeds.filter(_.id < k).sortBy(_.id)
    Codebook(width,
      Array.fill(spaces)(vs.map(_.id).toArray),
      Array.tabulate(spaces)(m =>
        vs.map(_.x.slice(m * width, (m + 1) * width)).toArray))
  }

  /** One Lloyd step: assign every vector of `corpus` to its nearest
    * centroid of `book` in each space, then recenter. One Spark job. */
  def step(corpus: RDD[Vec], book: Codebook): Codebook = {
    val b = book
    val partials = corpus.mapPartitionsWithIndex { (pi, it) =>
      val sums = Array.tabulate(b.spaces)(m =>
        Array.ofDim[Double](b.cids(m).length, b.width))
      val counts = Array.tabulate(b.spaces)(m => new Array[Long](b.cids(m).length))
      it.foreach { v =>
        var m = 0
        while (m < b.spaces) {
          val j = b.nearest(v.x, m)
          if (j >= 0) {
            val s = sums(m)(j)
            val off = m * b.width
            var i = 0
            while (i < b.width) { s(i) = s(i) + v.x(off + i); i += 1 }
            counts(m)(j) += 1
          }
          m += 1
        }
      }
      Iterator.single((pi, sums, counts))
    }.collect().sortBy(_._1)
    val kept = Array.tabulate(b.spaces) { m =>
      b.cids(m).indices.filter(j => partials.exists(_._3(m)(j) > 0)).map { j =>
        val sum = new Array[Double](b.width)
        var n = 0L
        partials.foreach { case (_, ps, cs) =>
          if (cs(m)(j) > 0) {
            val p = ps(m)(j)
            var i = 0
            while (i < b.width) { sum(i) = sum(i) + p(i); i += 1 }
            n += cs(m)(j)
          }
        }
        (b.cids(m)(j), sum.map(x => round6(x / n.toDouble)))
      }
    }
    Codebook(b.width, kept.map(_.map(_._1).toArray), kept.map(_.map(_._2).toArray))
  }

  /** Codes: `(vec_id, space, cid, list)` of every vector's nearest
    * centroid per space. A map-side pass; a vector in a space without
    * centroids gets no code there. */
  def codes(corpus: RDD[Vec], book: Codebook): RDD[(Long, Int, Long, Long)] = {
    val b = book
    corpus.flatMap { v =>
      (0 until b.spaces).flatMap { m =>
        val j = b.nearest(v.x, m)
        if (j < 0) None else Some((v.id, m, b.cids(m)(j), v.list))
      }
    }
  }

  /** `v` minus its nearest centroid of the one-space `coarse` book, tagged
    * with that centroid's id; None when `coarse` has no centroid. */
  def residual(v: Vec, coarse: Codebook): Option[Vec] = {
    val j = coarse.nearest(v.x, 0)
    if (j < 0) None
    else {
      val c = coarse.cents(0)(j)
      Some(Vec(v.id, Array.tabulate(v.x.length)(i => v.x(i) - c(i)),
        coarse.cids(0)(j)))
    }
  }

  /** The probe LUT: `(q_id, space, cid, pdu)` for every probe and centroid
    * of its space, `pdu = round(l2 · 1e6, 0)` cast to bigint (exact
    * integer micro-units, so per-pair sums are order-free). */
  def lut(probes: Seq[Vec], book: Codebook): Seq[(Long, Int, Long, Long)] =
    for (q <- probes; m <- 0 until book.spaces; j <- book.cids(m).indices)
      yield (q.id, m, book.cids(m)(j),
        roundHalfUp(l2(q.x, m * book.width, book.cents(m)(j), 0, book.width)
          * 1e6, 0).toLong)
}
