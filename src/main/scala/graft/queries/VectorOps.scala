package graft.queries

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, LongType, StructType}
import graft.Tables.ld
import graft.engine.Artifacts
import graft.functions.Lloyd
import graft.functions.VectorExprs.dotp

/** Similarity search over the `embeddings` table (vec_id, embedding:
  * array<float> [64], label) — the ANN surface of a training-data pipeline.
  *
  * Dot products run through the native codegen'd `DotProduct` expression
  * (graft.functions.VectorExprs): same left-to-right double fold as the
  * declarative `zip_with`+`aggregate` form and as DuckDB's
  * list_inner_product, so oracles hash-match, but ~40× faster (no per-pair
  * array allocation, stays inside whole-stage codegen). Each vector's norm
  * is computed ONCE (per-row projection), so the all-pairs kernels do one
  * dot per pair, not three.
  *
  * Scale shapes: brute-force kNN broadcasts the (small) probe set and scans
  * the corpus once — linear, no shuffle of the corpus. The LSH variant
  * buckets both sides by hyperplane signature, turning ANN into an equi-join
  * on bucket id — the 100 TB path (q61). q62 is the *exact* all-pairs
  * baseline: at 100 TB you'd run q61's bucket join instead; here it
  * demonstrates the dense kernel at full accuracy.
  */
object VectorOps {

  /** q153's adaptive-blocking flip point: past this many distinct vectors
    * the PQ-code blocking key widens from a single subspace code (domain
    * 16 per m) to the code PAIR of cyclically adjacent subspaces (domain
    * 256 per m) — the r14 fix for the fixed-domain birthday effect
    * (single-code slope 20.1 → 2.04 at ×8). The engine plan and the DuckDB
    * oracle must flip on the SAME rule or the oracle stops replaying the
    * engine's plan (still equal output, but the replay property the q153
    * comment claims would silently break) — so both interpolate THIS
    * constant, and `MutualKnnThresholdSpec` extracts the number from the
    * built plan and from the oracle SQL and fails on any one-sided
    * re-inlining. */
  val MutualKnnWideningThreshold = 6000L

  /** 8 deterministic pseudo-random hyperplanes (hash-seeded, no RNG state —
    * reproducible across executors and rounds). */
  private[queries] val hyperplanes: Seq[Seq[Double]] =
    (0 until 8).map { p =>
      (0 until 64).map { i =>
        val h = scala.util.hashing.MurmurHash3.stringHash(s"plane_${p}_$i")
        (h % 1000) / 1000.0
      }
    }

  /** Bucket id: 8 sign bits of hyperplane projections. */
  private def lshBucket(emb: Column): Column =
    hyperplanes.zipWithIndex.map { case (w, p) =>
      when(dotp(emb, typedLit(w)) > 0, lit(1 << p)).otherwise(lit(0))
    }.reduce(_ + _)

  /** 128 deterministic hyperplanes (8 bands × 16 sign bits) for q68's
    * banded near-dup join — same hash-seeded construction as
    * [[hyperplanes]], disjoint seed space. */
  private[queries] val bandPlanes: Seq[Seq[Double]] =
    (0 until 128).map { p =>
      (0 until 64).map { i =>
        val h = scala.util.hashing.MurmurHash3.stringHash(s"band_${p}_$i")
        (h % 1000) / 1000.0
      }
    }

  /** Explode a (vec_id, emb) frame into its 8 (band_idx, band_val) keys:
    * band j = 16 sign bits of hyperplane projections 16j..16j+15, computed
    * by the single compiled HyperplaneBands kernel (the unrolled 128-dot
    * projection compiled to a 29.8 KB method that HotSpot refused to JIT —
    * see VectorExprs.HyperplaneBands). posexplode is a pipelined Generate —
    * no shuffle until the bucket join itself. */
  private def bandKeys(df: DataFrame, idOut: String): DataFrame =
    df.select(col("vec_id").as(idOut),
        graft.functions.VectorExprs.bands(col("emb"), bandPlanes, 16).as("bk"))
      .select(col(idOut), posexplode(col("bk")).as(Seq("band_idx", "band_val")))

  /** Corpus with the embedding pre-cast to array<double> and the norm
    * precomputed — both ONCE per row, before any pair join. (Leaving the
    * float→double cast inside the join re-allocated a 64-double array per
    * PAIR: ~4M allocations at sf0.1.) */
  private def withNorm(df: DataFrame): DataFrame =
    df.select(col("vec_id"), col("label"),
        // elementsNotNull (r13): one per-ROW validation pass that throws
        // on corrupt vectors AND narrows the type to containsNull=false,
        // so every downstream all-pairs dotp/bands kernel keeps its
        // branch-free loop (the schema-aware guards compile away)
        graft.functions.VectorExprs.elementsNotNull(col("embedding"))
          .as("emb"))
      .withColumn("nrm", sqrt(dotp(col("emb"), col("emb"))))

  /** Squared L2 distance of two array<double> columns: the sequential
    * fold `acc = 0.0; acc + (x - y)²` that graft.functions.Lloyd and the
    * DuckDB oracles replay. */
  private def l2(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, z) => acc + z)

  /** K-means building blocks shared by q65 (one unrolled iteration) and
    * q111 (SemDeDup clustering stage). Distances are rounded to 6 decimals
    * BEFORE the argmin, ties broken by centroid id, so the assignment is
    * bit-stable across engines; per iteration one k×64 centroid broadcast +
    * one corpus scan — at 100 TB the corpus stays partitioned in place. */
  private def kAssign(v: DataFrame, cent: DataFrame): DataFrame = {
    v.crossJoin(broadcast(cent))
      .select(col("vec_id"), col("ce"), col("cid"),
        round(l2(col("ce"), col("cc")), 6).as("d"))
      .groupBy("vec_id")
      .agg(min(struct(col("d"), col("cid"))).as("m"),
        first("ce").as("ce"))
      .select(col("vec_id"), col("ce"),
        col("m.cid").as("cid"), col("m.d").as("d"))
  }

  private def kRecenter(a: DataFrame): DataFrame =
    a.select(col("cid"), posexplode(col("ce")).as(Seq("pos", "x")))
      .groupBy("cid", "pos").agg(round(avg("x"), 6).as("cv"))
      .groupBy("cid")
      .agg(array_sort(collect_list(struct(col("pos"), col("cv")))).as("pc"))
      .select(col("cid"), expr("transform(pc, q -> q.cv)").as("cc"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Brute-force cosine top-5 for 10 probe vectors: the exactness baseline.
    // Probe side broadcast; corpus scanned once; one dot per (probe, vec).
    "q60_knn_brute" -> ((s, d) => {
      val e = withNorm(ld(s, d, "embeddings"))
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("emb").as("q_emb"),
          col("nrm").as("q_nrm"))
      val sims = e.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id").as("neighbor_id"),
          round(dotp(col("q_emb"), col("emb")) /
            (col("q_nrm") * col("nrm")), 6).as("sim"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("q_id").orderBy(col("sim").desc, col("neighbor_id"))
      sims.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .orderBy("q_id", "rn")
    }),

    // LSH-bucketed ANN: same probes, neighbors only from the probe's bucket.
    "q61_ann_lsh" -> ((s, d) => {
      val e = withNorm(ld(s, d, "embeddings"))
        .withColumn("bucket", lshBucket(col("emb")))
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("emb").as("q_emb"),
          col("nrm").as("q_nrm"), col("bucket").as("q_bucket"))
      val sims = e.join(broadcast(q), col("bucket") === col("q_bucket"))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id").as("neighbor_id"),
          round(dotp(col("q_emb"), col("emb")) /
            (col("q_nrm") * col("nrm")), 6).as("sim"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("q_id").orderBy(col("sim").desc, col("neighbor_id"))
      sims.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .orderBy("q_id", "rn")
    }),

    // Embedding near-duplicate pairs (cosine ≥ 0.4 on this corpus — max
    // pairwise sim is ~0.55). Exact all-pairs with the native dot kernel;
    // the oracle needs the denominator built as sqrt(dot(a,a))*sqrt(dot(b,b))
    // per pair — precomputing each factor keeps the float ops identical.
    // NOTE on scale: 0.4 is a FAT threshold (background sims reach 0.38 at
    // p99.9), and measured banding at it is anti-productive — every full-
    // recall (r,b) config produced MORE candidate rows than the 2M brute
    // pairs (best: 1.5× at r=4,b=24 with 13/920 misses). A threshold that
    // close to the background is inherently all-pairs work; q68 is the
    // banded scale path for a TRUE near-dup threshold, where LSH prunes
    // 99.6% of the pair space with measured 100% recall.
    "q62_embed_neardup" -> ((s, d) => {
      val e = withNorm(ld(s, d, "embeddings"))
      // r15 (§2.2/guide §1): the sf corpora are single-row-group parquet,
      // so the streamed side of the nested-loop product is ONE scan task
      // and the O(n²) dot-product kernel ran on one core (ProfileSome:
      // 5 tasks, coreUtil 0.03). Spread the streamed side across the
      // session's cores before the product — the shuffle is linear in n
      // while the compute it parallelizes is quadratic, so this is the
      // right trade at ANY scale; the guard keeps it a no-op when the
      // scan already splits (many row groups at production scale).
      val para = s.sparkContext.defaultParallelism
      val a0 = e.select(col("vec_id").as("va"), col("emb").as("ea"),
        col("nrm").as("na"))
      val a = if (a0.rdd.getNumPartitions < para)
        a0.repartition(para, col("va")) else a0
      val b = e.select(col("vec_id").as("vb"), col("emb").as("eb"),
        col("nrm").as("nb"))
      a.crossJoin(broadcast(b))
        .filter(col("va") < col("vb"))
        .select(col("va"), col("vb"),
          round(dotp(col("ea"), col("eb")) / (col("na") * col("nb")), 6)
            .as("sim"))
        .filter(col("sim") >= 0.4)
        .orderBy("va", "vb")
    }),

    // Per-label centroids + per-vector distance to own centroid (cluster
    // quality). Elementwise mean via posexplode → keyed agg → array rebuild.
    "q63_centroid_dist" -> ((s, d) => {
      val e = ld(s, d, "embeddings")
      val cent = e
        .select(col("label"), posexplode(col("embedding").cast("array<double>"))
          .as(Seq("pos", "v")))
        .groupBy("label", "pos").agg(round(avg("v"), 6).as("c"))
        .groupBy("label")
        .agg(array_sort(collect_list(struct(col("pos"), col("c")))).as("pc"))
        .select(col("label"), expr("transform(pc, x -> x.c)").as("centroid"))
      e.join(broadcast(cent), "label")
        .select(col("vec_id"), col("label"),
          round(sqrt(aggregate(
            zip_with(col("embedding").cast("array<double>"), col("centroid"),
              (x, c) => (x - c) * (x - c)),
            lit(0.0), (acc, v) => acc + v)), 6).as("dist"))
        .orderBy("vec_id")
    }),
  )

  /** IVF-style ANN: coarse quantizer = per-label centroid; each probe
    * searches only its `nprobe`=2 nearest inverted lists. The 100 TB shape:
    * the corpus is PARTITIONED by list id (here `label`), a probe touches
    * nprobe partitions instead of all of them, and the fine search is a
    * broadcast join against just those lists.
    */
  val queries2: Map[String, (SparkSession, String) => DataFrame] = Map(
    // GRID DBSCAN — density clustering the SCALABLE way: no per-point
    // ε-neighborhood search (that's a similarity self-join) but the
    // grid-density formulation (GriT/GridDBSCAN family): project each
    // embedding to 2D in exact integer micro-units (per-element round
    // THEN integer sum — order-free, the q119 recipe; dims 1-32 vs
    // 33-64 as the two deterministic axes), range-bin to a 24×24 grid
    // (broadcast min/max, q319's value-range assignment), keep cells
    // with ≥4 points as CORE, connect 8-adjacent core cells, and run
    // the SAME large-star/small-star CC primitive as q101/q102/q107 —
    // proving the component step is source-agnostic across simhash,
    // minhash, embedding AND density edges. Adjacency is a KEYED probe
    // join (each core cell explodes its 4 half-neighborhood keys),
    // never a cell² product; every frame after the one corpus scan is
    // grid-bounded. Output: per-cluster cell/point counts + bbox, plus
    // the noise row (points in sparse cells) — DBSCAN's third class.
    // Oracle: exact recursive-CTE closure over the same cell edges.
    "q325_grid_dbscan" -> ((s, d) => {
      val micro = "v -> CAST(round(v * 1000000, 0) AS BIGINT)"
      val pts = ld(s, d, "embeddings")
        .select(col("vec_id"),
          col("embedding").cast("array<double>").as("ce"))
        .selectExpr("vec_id",
          s"aggregate(transform(slice(ce, 1, 32), $micro), 0L," +
            " (a, x) -> a + x) AS xm",
          s"aggregate(transform(slice(ce, 33, 32), $micro), 0L," +
            " (a, x) -> a + x) AS ym")
      val st = pts.agg(min("xm").as("minx"), max("xm").as("maxx"),
        min("ym").as("miny"), max("ym").as("maxy"))
      val cells = pts.crossJoin(broadcast(st))
        .selectExpr("vec_id",
          "(xm - minx) * 24 DIV (maxx - minx + 1) AS cx",
          "(ym - miny) * 24 DIV (maxy - miny + 1) AS cy")
      val dense = cells.groupBy("cx", "cy")
        .agg(count(lit(1)).as("npts"))
        .filter(col("npts") >= 4)
        .withColumn("cell", col("cx") * 1024L + col("cy"))
        .localCheckpoint() // feeds probes, the probe target, and labels
      val probes = dense.selectExpr("cell AS da",
        """explode(array((cx + 1) * 1024 + cy,
                         cx * 1024 + (cy + 1),
                         (cx + 1) * 1024 + (cy + 1),
                         (cx + 1) * 1024 + (cy - 1))) AS db""")
      val edges = probes
        .join(dense.select(col("cell").as("db")), Seq("db"))
        .select("da", "db").localCheckpoint()
      val cc = GraphOps.connectedComponents(edges)
        .withColumnRenamed("doc_id", "cell")
      val labeled = dense.join(cc, Seq("cell"), "left")
        .withColumn("cluster_id", coalesce(col("cluster_id"), col("cell")))
      val clusters = labeled.groupBy("cluster_id")
        .agg(count(lit(1)).as("n_cells"), sum("npts").as("n_points"),
          min("cx").as("min_cx"), max("cx").as("max_cx"),
          min("cy").as("min_cy"), max("cy").as("max_cy"))
      val noise = cells
        .join(dense.select("cx", "cy"), Seq("cx", "cy"), "left_anti")
        .agg(count(lit(1)).as("n_points"))
        .select(lit(-1L).as("cluster_id"), lit(0L).as("n_cells"),
          col("n_points"), lit(-1L).as("min_cx"), lit(-1L).as("max_cx"),
          lit(-1L).as("min_cy"), lit(-1L).as("max_cy"))
      clusters.unionByName(noise).orderBy("cluster_id")
    }),

    // LABEL-NOISE DETECTION by centroid disagreement — the cheap first
    // pass of confident-learning-style label auditing: build each
    // class's centroid, assign every vector to its NEAREST class
    // centroid, and flag vectors whose nearest class isn't their own
    // label. Output is the full label×nearest confusion matrix with
    // the off-diagonal marked — the frame a labeling team triages.
    // Exactness: per-element micro-unit quantization (round then
    // integer everything after — the q119 recipe), centroids as
    // truncated integer means (both engines' integer division
    // truncates toward zero, verified on q317), squared distances in
    // integer micro², argmin tie-broken by class id. Shapes: one
    // explode feeds centroid build AND the distance probe
    // (localCheckpoint pin); the 640-row centroid table BROADCASTS
    // into the probe, so the corpus never shuffles for the assignment;
    // rollups map-side combine. At 100 TB this is one scan + one
    // broadcast — the cheapest possible full-corpus label audit.
    "q329_label_noise" -> ((s, d) => {
      val vm = ld(s, d, "embeddings")
        .select(col("vec_id"), col("label").cast("long").as("label"),
          posexplode(expr("transform(CAST(embedding AS ARRAY<DOUBLE>)," +
            " v -> CAST(round(v * 1000000, 0) AS BIGINT))"))
            .as(Seq("pos", "vm")))
        .localCheckpoint() // feeds the centroid build AND the probe
      val cent = vm.groupBy(col("label").as("clabel"), col("pos"))
        .agg(expr("CAST(sum(vm) AS BIGINT) DIV count(1)").as("cm"))
      val dist = vm.join(broadcast(cent), Seq("pos"))
        .groupBy("vec_id", "label", "clabel")
        .agg(sum((col("vm") - col("cm")) * (col("vm") - col("cm")))
          .as("d2"))
      val wN = Window.partitionBy("vec_id").orderBy("d2", "clabel")
      dist.withColumn("rn", row_number().over(wN))
        .filter(col("rn") === 1)
        .groupBy(col("label"), col("clabel").as("nearest_label"))
        .agg(count(lit(1)).as("n"))
        .withColumn("is_noise", col("label") =!= col("nearest_label"))
        .orderBy("label", "nearest_label")
    }),

    // One unrolled k-means iteration (k=4, init = vectors 0..3): assign →
    // recenter → reassign, reporting final cluster sizes and mean distance.
    // The iterative-ML shape: per iteration one broadcast of k centroids +
    // one scan of the corpus; at 100 TB the corpus stays partitioned in
    // place and only the k×64 centroid table moves. Distances are rounded
    // to 6 decimals BEFORE the argmin (ties broken by centroid id) so the
    // assignment is bit-stable across engines — the DuckDB oracle unrolls
    // the same two assignment rounds.
    "q65_kmeans_iter" -> ((s, d) => {
      val v = ld(s, d, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("ce"))
      val c0 = v.filter(col("vec_id") < 4)
        .select(col("vec_id").as("cid"), col("ce").as("cc"))
      val c1 = kRecenter(kAssign(v, c0))
      kAssign(v, c1).groupBy("cid")
        .agg(count(lit(1)).as("n"), round(avg("d"), 4).as("avg_d"))
        .orderBy("cid")
    }),

    // SemDeDup-style semantic dedup (cluster-then-dedup-within-cluster,
    // Abbas et al. 2023): k-means-cluster the embedding corpus (one refine
    // from the deterministic init, = q65's c1), then within each cluster
    // flag every vector that has a LOWER-id cluster-mate at cosine ≥ 0.4;
    // keep = unflagged. The 100 TB story is the whole point: pairwise work
    // is bounded per cluster (Σ|cluster|²/2 « N² when k grows ~√N), the
    // pair join is an EQUI-join keyed on cluster id — shuffle_hash, no
    // corpus broadcast, no BNLJ — and the only broadcast is the k×64
    // centroid table during assignment. Norms are precomputed per row (the
    // q62 lesson: a per-pair sqrt re-allocates; per-row it's one column),
    // and the rounded-cosine threshold + argmin tie-break keep the whole
    // chain bit-stable against the DuckDB replay.
    // COST PINNED (r13 adjudication of the r12 quintet): isolated median
    // 2.27 s / ratio 4.0 at sf0.1 (BENCH_DETAIL_r13_iso, cal 0.561). The
    // within-cluster pair join IS SemDeDup's serving cost — the k-means
    // training ahead of it is one scan + broadcast and not worth an
    // artifact claim; the r11 1.18 s number was riding a predecessor's
    // memo (the dishonest baseline the r12 hygiene fix removed).
    "q111_semdedup" -> ((s, d) => {
      val v = ld(s, d, "embeddings")
        .select(col("vec_id"), // narrowed seam: pair-loop dotp below
          graft.functions.VectorExprs.elementsNotNull(col("embedding"))
            .as("ce"))
      val c0 = v.filter(col("vec_id") < 4)
        .select(col("vec_id").as("cid"), col("ce").as("cc"))
      val c1 = kRecenter(kAssign(v, c0))
      // One cid-keyed Exchange closes the assignment pipeline; the three
      // consumers (both pair-join sides + the output frame) rename/filter
      // AFTER it, so their exchange subtrees are identical and the AQE
      // stage cache computes the assignment ONCE (the q98 lesson) — and
      // the pair join's sides arrive co-partitioned on cid.
      val asg = kAssign(v, c1)
        .select(col("vec_id"), col("ce"), col("cid"))
        .withColumn("nrm", sqrt(dotp(col("ce"), col("ce"))))
        .repartition(col("cid"))
      val a = asg.select(col("cid"), col("vec_id").as("va"),
        col("ce").as("ea"), col("nrm").as("na"))
      val b = asg.select(col("cid"), col("vec_id").as("vb"),
        col("ce").as("eb"), col("nrm").as("nb"))
      val dup = a.join(b.hint("shuffle_hash"), Seq("cid"))
        .filter(col("va") < col("vb"))
        .filter(round(dotp(col("ea"), col("eb")) / (col("na") * col("nb")), 6)
          >= 0.4)
        .select("vb").distinct()
        .withColumn("flagged", lit(true))
      asg.join(dup, asg("vec_id") === dup("vb"), "left")
        .select(col("vec_id"), col("cid"),
          (!coalesce(col("flagged"), lit(false))).as("keep"))
        .orderBy("vec_id")
    }),

    // Scalar int8 quantization of the embedding corpus (per-dimension
    // min/max scaling to 0..255) — the embedding-compression stage of a
    // training-data pipeline (4× storage cut before ANN indexing). Fully
    // relational: posexplode → tiny per-dim stats aggregate (64 rows,
    // broadcast) → codegen'd code computation → per-vector checksum. At
    // 100 TB the stats pass is one map-side-combined aggregation and the
    // quantization is a pure projection.
    "q66_vector_quantize" -> ((s, d) => {
      val exploded = ld(s, d, "embeddings")
        .select(col("vec_id"),
          posexplode(col("embedding").cast("array<double>")).as(Seq("pos", "v")))
      val stats = exploded.groupBy("pos")
        .agg(min("v").as("mn"), max("v").as("mx"))
        .filter(col("mx") =!= col("mn"))
      exploded.join(broadcast(stats), "pos")
        .select(col("vec_id"),
          round(((col("v") - col("mn")) / (col("mx") - col("mn"))) * 255, 0)
            .cast("int").as("code"))
        .groupBy("vec_id").agg(
          sum("code").as("qsum"),
          min("code").as("qmin"),
          max("code").as("qmax"))
        .orderBy("vec_id")
    }),

    // The SCALE-SAFE near-dup join: dedup a re-encoded copy of the corpus
    // (int8 quant-dequant, q66's scalar quantizer — the "same content,
    // different encoding" duplicates a real crawl pipeline must catch)
    // against the originals at cosine ≥ 0.999. Candidates come ONLY from an
    // equi-join on (band_idx, band_val) — 8 bands × 16 hyperplane sign bits
    // — then exact cosine re-ranks. Measured at sf0.1: 16.4k candidate
    // pairs vs 4.0M brute (0.4%), recall 2000/2000; per-pair miss
    // probability at sim≈0.9999 is (1-p^16)^8 ≈ 5e-10 with p = 1-θ/π.
    // The oracle is the BRUTE-FORCE DuckDB cross join, so the green row
    // proves empirical 100% recall cross-engine. At 100 TB both sides
    // shuffle keyed on the band value — no corpus-sized broadcast, no BNLJ
    // over the pair space (PlanSpec pins this).
    "q68_neardup_rerank" -> ((s, d) => {
      val orig = withNorm(ld(s, d, "embeddings"))
      // per-dimension min/max of the original corpus as two 64-elem arrays
      // (1-row broadcast — same tiny-stats shape as q56's percentile gate)
      val stats = ld(s, d, "embeddings")
        .select(posexplode(col("embedding").cast("array<double>"))
          .as(Seq("pos", "v")))
        .groupBy("pos").agg(min("v").as("mn"), max("v").as("mx"))
        .agg(array_sort(collect_list(struct(col("pos"), col("mn"), col("mx"))))
          .as("pm"))
        .select(expr("transform(pm, x -> x.mn)").as("mns"),
          expr("transform(pm, x -> x.mx)").as("mxs"))
      // int8 quant-dequant reconstruction — float-op order matches the
      // DuckDB oracle exactly (same expression, same associativity). A pure
      // projection: the interpreted transform touches 64 elems/row, far off
      // the critical path (the dot kernels below are native).
      val recon = ld(s, d, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("e0"))
        .crossJoin(broadcast(stats))
        .select(col("vec_id"),
          expr("""transform(e0, (v, i) -> CASE WHEN mxs[i] = mns[i] THEN v
                   ELSE mns[i] + round((v - mns[i]) / (mxs[i] - mns[i]) * 255, 0)
                        * (mxs[i] - mns[i]) / 255 END)""").as("emb"))
        .withColumn("nrm", sqrt(dotp(col("emb"), col("emb"))))
      val cand = bandKeys(orig, "va")
        .join(bandKeys(recon, "vb"), Seq("band_idx", "band_val"))
        .select("va", "vb").distinct()
      val o = orig.select(col("vec_id").as("va"), col("emb").as("ea"),
        col("nrm").as("na"))
      val r = recon.select(col("vec_id").as("vb"), col("emb").as("eb"),
        col("nrm").as("nb"))
      cand.join(o, "va").join(r, "vb")
        .select(col("va"), col("vb"),
          round(dotp(col("ea"), col("eb")) / (col("na") * col("nb")), 6)
            .as("sim"))
        .filter(col("sim") >= 0.999)
        .orderBy("va", "vb")
    }),

    // Embedding near-dup CLUSTERING: q68's banded candidate pairs (orig vs
    // int8-reconstruction cosine ≥ 0.999, va < vb) fed through the SAME
    // distributed connected-components primitive as the simhash path
    // (q101) — the clustering step is similarity-source-agnostic, which is
    // the point: one graph primitive serves every near-dup detector. The
    // oracle wraps q68's brute-force pair SQL in an exact recursive-CTE
    // transitive closure, so a green row proves banded edge generation +
    // distributed label propagation together reach the exact fixpoint.
    "q102_embed_components" -> ((s, d) => {
      // checkpoint before the symmetrizing union inside the helper (the
      // r3 q45 lesson: union branches are separate subtrees and would
      // recompute the whole band+rerank pipeline twice)
      val edges = queries2("q68_neardup_rerank")(s, d)
        .filter(col("va") < col("vb"))
        .select(col("va").as("da"), col("vb").as("db"))
        .localCheckpoint()
      ld(s, d, "embeddings").select(col("vec_id"))
        .join(GraphOps.connectedComponents(edges)
          .select(col("doc_id").as("vec_id"), col("cluster_id")),
          Seq("vec_id"), "left")
        .select(col("vec_id"),
          coalesce(col("cluster_id"), col("vec_id")).as("cluster_id"))
        .withColumn("is_canonical", col("vec_id") === col("cluster_id"))
        .orderBy("vec_id")
    }),

    // IVF-PQ's PQ half: product quantization + asymmetric-distance (ADC)
    // search — the compression trick that makes exhaustive ANN affordable
    // at 100 TB. See [[pqAdcRanked]] for the chain and the scale story;
    // this query reports the ADC top-3 per probe, and q120 scores the
    // shortlist honestly against the exact ranking. COST: the codebook,
    // codes and probe LUT are the pq-codes-lut declared artifact, built
    // once per session by the compiled Lloyd kernel (6 Spark jobs, about
    // 0.6 s warm at sf0.001; the DataFrame training chain it replaced ran
    // 18 jobs, 3.1 s), so a measured run prices only the ADC scan: one
    // broadcast-LUT join over the codes, a partial/final sum and the
    // per-probe top-3 (sf0.1, 4 cores: median 0.43–0.56 s; the build
    // 1.8 s).
    "q119_ann_ivfpq" -> ((s, d) =>
      pqAdcRanked(s, d)
        .filter(col("rn") <= 3)
        .select(col("q_id"), col("neighbor_id"),
          (col("du").cast("double") / 1e6).as("approx_d"), col("rn"))
        .orderBy("q_id", "rn")),

    // q119's honesty check — the q112 calibration story for vectors, asked
    // the way production uses PQ: does the ADC top-50 SHORTLIST (1% of the
    // corpus) capture the exact full-precision top-3? (Scoring ADC's own
    // top-3 against exact top-3 is the wrong question — quantized ranks
    // among the top handful of 5 000 near-equidistant vectors are noise;
    // the shortlist-then-exact-re-rank is how PQ is actually deployed, and
    // ITS recall is what decides whether the 64× code compression is safe
    // before a 100 TB index build.) Recall in exact integer basis points.
    // r9: the curve gains the COMPOSED variant (q125's IVF-restricted
    // ADC, recall_bp_ivf): shortlist@50 captures 14/15 (93.3 %) vs
    // full-corpus ADC's 13/15 — scanning only nprobe/nlist = 25 % of the
    // codes while ranking DEEPER into each probed list, the measured
    // argument that the composed index serves production traffic.
    // Measured at sf0.01 (M=4, K=16, one refine): shortlist 50 (1 % of
    // corpus) captures 13/15 exact-top-3 (86.7 %), 100 → 93.3 %, 200 →
    // 100 % — the curve this pass exists to produce; ADC's OWN top-3
    // scores only 3/15 (and 1/15 at K=4), which is why the shortlist
    // question is the right one. The exact side is a 5-probe broadcast
    // over one corpus scan (q60's shape) — only the probes pay full
    // precision.
    // COST: both the PQ codes/LUT and the IVF coarse quantizer are
    // declared artifacts, trained once per session by the Lloyd kernel
    // (was 4.23 s per run in r12 when every run re-trained both). What a
    // measured run pays is the EXACT brute-force ranking the recall score
    // is defined against — an eval harness's declared cost, not an ANN
    // serving path.
    "q120_pq_recall" -> ((s, d) => {
      val shortlist = pqAdcRanked(s, d)
        .filter(col("rn") <= 50)
        .select(col("q_id"), col("neighbor_id"), lit(1).as("hit"))
      // the COMPOSED variant's shortlist (q125: ADC within nprobe=2
      // probed lists) scored on the same exact top-3 — what the curve
      // loses to coarse-probe misses, not just code quantization
      val shortIvf = ivfPqRanked(s, d)
        .filter(col("rn") <= 50)
        .select(col("q_id"), col("neighbor_id"), lit(1).as("hit_ivf"))
      val v = ld(s, d, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("ce"))
      val probes = v.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("ce").as("qe"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("q_id").orderBy(col("d"), col("neighbor_id"))
      val exact3 = v.crossJoin(broadcast(probes))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id").as("neighbor_id"),
          round(l2(col("ce"), col("qe")), 6).as("d"))
        .withColumn("ern", row_number().over(w))
        .filter(col("ern") <= 3)
        .select("q_id", "neighbor_id")
      exact3.join(shortlist, Seq("q_id", "neighbor_id"), "left")
        .join(shortIvf, Seq("q_id", "neighbor_id"), "left")
        .groupBy("q_id").agg(
          count(lit(1)).cast("int").as("k"),
          sum(coalesce(col("hit"), lit(0))).cast("int").as("n_hit"),
          sum(coalesce(col("hit_ivf"), lit(0))).cast("int").as("n_hit_ivf"))
        .selectExpr("q_id", "k", "n_hit",
          "CAST((10000 * n_hit) DIV k AS INT) AS recall_bp",
          "n_hit_ivf",
          "CAST((10000 * n_hit_ivf) DIV k AS INT) AS recall_bp_ivf")
        .orderBy("q_id")
    }),

    "q64_ann_ivf" -> ((s, d) => {
      val e = withNorm(ld(s, d, "embeddings"))
      // centroids: elementwise mean per label (same construction as q63)
      val cent = ld(s, d, "embeddings")
        .select(col("label"), posexplode(col("embedding").cast("array<double>"))
          .as(Seq("pos", "v")))
        .groupBy("label", "pos").agg(round(avg("v"), 6).as("c"))
        .groupBy("label")
        .agg(array_sort(collect_list(struct(col("pos"), col("c")))).as("pc"))
        .select(col("label").as("c_label"),
          expr("transform(pc, x -> x.c)").as("centroid"))
        .withColumn("c_nrm", sqrt(dotp(col("centroid"), col("centroid"))))
      val probes = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("emb").as("q_emb"),
          col("nrm").as("q_nrm"))
      // coarse: rank centroids per probe by cosine, keep nprobe=2
      val wq = org.apache.spark.sql.expressions.Window
        .partitionBy("q_id").orderBy(col("c_sim").desc, col("c_label"))
      val lists = probes.crossJoin(broadcast(cent))
        .select(col("q_id"), col("q_emb"), col("q_nrm"), col("c_label"),
          round(dotp(col("q_emb"), col("centroid")) /
            (col("q_nrm") * col("c_nrm")), 6).as("c_sim"))
        .withColumn("crn", row_number().over(wq))
        .filter(col("crn") <= 2)
        .select(col("q_id"), col("q_emb"), col("q_nrm"),
          col("c_label").as("label"))
      // fine: search only the selected inverted lists
      val wn = org.apache.spark.sql.expressions.Window
        .partitionBy("q_id").orderBy(col("sim").desc, col("neighbor_id"))
      e.join(broadcast(lists), "label")
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id").as("neighbor_id"),
          round(dotp(col("q_emb"), col("emb")) /
            (col("q_nrm") * col("nrm")), 6).as("sim"))
        .withColumn("rn", row_number().over(wn))
        .filter(col("rn") <= 3)
        .orderBy("q_id", "rn")
    }),

    // IVF × PQ COMPOSED — the query a 100 TB vector index actually
    // serves (q64 demonstrated the coarse probe, q119 the code scan;
    // this is their composition). Coarse: a TRAINED quantizer — 8
    // k-means centroids (deterministic vec_id<8 init + one Lloyd
    // refine, the exact recipe the PQ codebooks use), vectors assigned
    // to their nearest centroid = the inverted lists; nprobe=2 per
    // probe. NOT q64's label lists: the label column is geometrically
    // random (measured 41 % own-centroid affinity; a label-partitioned
    // shortlist@50 captured 4/15 of the exact top-3 vs 13/15 for full
    // ADC), while the trained lists capture 14/15 — the difference
    // between partitioning by metadata and by geometry, which is the
    // whole point of IVF. Fine: q119's EXACT codes + LUT (pqCodesLut —
    // bit-identical training, so q119/q125 agree on the codes by
    // construction), but the ADC sum runs ONLY over vectors of the
    // probed lists: the code scan joins the (q_id, cid) probe frame
    // BEFORE the per-neighbor aggregate, so with nprobe < nlist no
    // full-corpus ADC happens (PlanSpec pins the restriction join; at
    // 100 TB codes live cid-partitioned and this join is the partition
    // prune). FAISS calls this IVFPQ with by_residual=false; residual
    // encoding is the classic refinement — same topology, PQ trained on
    // (vector − coarse centroid) — omitted so the code/LUT stages stay
    // shared verbatim with q119/q120.
    "q125_ann_ivf_pq" -> ((s, d) =>
      ivfPqRanked(s, d)
        .filter(col("rn") <= 3)
        .select(col("q_id"), col("neighbor_id"),
          (col("du").cast("double") / 1e6).as("approx_d"), col("rn"))
        .orderBy("q_id", "rn")),

    // HYBRID RETRIEVAL via RECIPROCAL RANK FUSION — the rank-combination
    // rung the inventory lacked: production search fuses a LEXICAL ranker
    // (here: distinct word-3-gram overlap with the query document, the
    // q133 inverted-index shape) with a VECTOR ranker (cosine to the query
    // embedding, the q60 shape) by RRF: score(d) = Σ_lists 1/(k + rank_d),
    // k = 60 (Cormack & Clarke's constant) — rank-based, so the two
    // incomparable score scales never need calibration, which is exactly
    // why RRF is the production default. Query = doc 0 / vec 0 (the
    // corpus's own first item — deterministic, no side-channel input).
    // Exactness: each RRF term is 1/(60+r) with INTEGER r — both engines
    // compute the identical IEEE double, and the two-term sum is a single
    // rounding step, so ordering and the round-6 output hash-match (the
    // only float sum is 2 terms — never an order-dependent reduction).
    // Docs absent from one list contribute 0 from it (standard RRF over
    // unioned candidate sets). Plan: gram overlap is a gh-keyed join
    // against the broadcast ~150-row query-gram set, map-side-combined
    // count; cosine side broadcasts ONE query vector over a single corpus
    // scan. The two global rank windows run on LIST-sized frames (lexical:
    // docs sharing ≥1 query gram; vector: the scored list — at 100 TB the
    // vector list comes from the ANN index (q125) top-N, so both windows
    // stay bounded by list length, never corpus-sized.
    "q152_rrf_fusion" -> ((s, d) => {
      // map-side gram build — no window, no exchange (r15, see
      // TextOps.shingles): next tokens come from the carried array.
      val grams = ld(s, d, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .select(col("doc_id"), col("toks"),
          posexplode(col("toks")).as(Seq("pos", "tok")))
        .select(col("doc_id"), col("tok"),
          get(col("toks"), col("pos") + 1).as("t1"),
          get(col("toks"), col("pos") + 2).as("t2"))
        .filter(col("t2").isNotNull)
        .select(col("doc_id"),
          conv(substring(md5(concat_ws(" ", col("tok"), col("t1"),
            col("t2"))), 1, 8), 16, 10).cast("long").as("gh"))
        .distinct()
      val qg = grams.filter(col("doc_id") === 0).select("gh")
      val lex = grams.filter(col("doc_id") =!= 0)
        .join(broadcast(qg), "gh")
        .groupBy("doc_id").agg(count(lit(1)).as("overlap"))
      // staged global rank (r13, Ranks.scala): the corpus-wide rankings
      // RRF is defined over must not ride a single-partition window —
      // bucket by the (bounded-domain) score, rank within buckets keyed
      val lexRank = Ranks.stagedGlobalRank(lex, -col("overlap"),
          Seq(col("overlap").desc, col("doc_id")), "lr", "_nl")
        .select(col("doc_id"), col("lr").cast("int").as("lex_rank"))
      val e = withNorm(ld(s, d, "embeddings"))
      val q = e.filter(col("vec_id") === 0)
        .select(col("emb").as("qe"), col("nrm").as("qn"))
      val sims = e.filter(col("vec_id") =!= 0).crossJoin(broadcast(q))
        .select(col("vec_id").as("doc_id"),
          round(dotp(col("qe"), col("emb")) / (col("qn") * col("nrm")), 6)
            .as("sim"))
      // NaN guard (r14, ADVICE): a zero-norm embedding makes sim = 0/0 =
      // NaN, which the non-ANSI double→bigint cast would send to bucket 0
      // while the within-bucket DESC order ranks NaN GREATEST — wrong
      // bucket, rank diverges from the single-window form. Spark's desc
      // sort places NaN first, so NaN must land in the FIRST (smallest)
      // bucket explicitly.
      val vecRank = Ranks.stagedGlobalRank(sims,
          when(isnan(col("sim")), lit(Long.MinValue))
            .otherwise((-floor(col("sim") * 1000)).cast("bigint")),
          Seq(col("sim").desc, col("doc_id")), "vr", "_nv")
        .select(col("doc_id"), col("vr").cast("int").as("vec_rank"))
      lexRank.join(vecRank, Seq("doc_id"), "full_outer")
        .withColumn("rrf",
          coalesce(lit(1.0) / (lit(60) + col("lex_rank")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(60) + col("vec_rank")), lit(0.0)))
        .orderBy(col("rrf").desc, col("doc_id")).limit(20)
        .select(col("doc_id"), col("lex_rank"), col("vec_rank"),
          round(col("rrf"), 6).as("rrf_r6"))
    }),

    // MUTUAL-kNN GRAPH over PQ codes — the neighbor-graph primitive under
    // manifold clustering / UMAP / dataset cartography, one rung above
    // q60's per-probe kNN: EVERY node gets its top-k (k=5) neighbors, and
    // an edge survives only if BOTH endpoints rank each other (mutuality —
    // the standard asymmetry filter that strips hub nodes' one-sided
    // links). Two pieces the PQ family didn't cover yet, both FAISS-real:
    // (1) SDC — symmetric distance computation: node-to-node distance is
    // approximated code-to-code via a K×K×M centroid-pair LUT (1 024
    // BIGINT micro-unit entries, one broadcast) — q119's ADC keeps the
    // query at full precision, SDC is what all-pairs jobs over an encoded
    // corpus use, since NEITHER side needs its raw vector; (2) PQ-code
    // BLOCKING: candidate pairs share ≥1 of their M=4 subspace codes (a
    // pigeonhole family: 4 "bands" of 16 values each) — a keyed
    // equi-self-join on (m, code), never the n² product; past 6 000
    // vectors the key widens to adjacent-subspace code PAIRS (see the
    // adaptive-width comment at the cand join — corpus-size-dependent
    // config, engine and oracle flip on the same in-plan count). The oracle
    // replays codebooks, codes, LUT, blocking, ranking, and mutuality
    // bit-for-bit (duckPqCtes — the checked contract is the deployed
    // pipeline, q61's stance). Per-pair distance = 4 integer LUT lookups
    // summed (order-free BIGINT); ranked per source node by (distance
    // asc, neighbor id); mutuality = self-semi-join of the top-k edge
    // list on the reversed key. At 100 TB: codes are 64× narrower than
    // raw vectors, the blocking join is keyed + shuffled on (m, code),
    // the rank window partitions by source node (one keyed shuffle), and
    // the mutual join is edge-list-sized. The raw corpus is touched only
    // by codebook training.
    // COST: PQ training is the pq-codes-lut artifact, built once per
    // session by the Lloyd kernel (was 5.29 s / 10.8 on the r12 driver
    // when training re-ran per execution). A measured run pays the
    // (m,code)-blocked all-pairs SDC join itself — the serving cost of a
    // corpus-wide kNN graph build.
    "q153_mutual_knn" -> ((s, d) => {
      // codes + codebook arrive PINNED from the artifact memo: this query
      // references codes four times (both blocking sides, both per-pair
      // lookup sides) and the codebook twice (the LUT self-join); the pins
      // make each reference a scan of stored blocks, never a re-run of the
      // training passes (an unpinned DataFrame training chain once
      // re-expanded into a 64-scan / 129-Exchange plan). In production the
      // pin is real: codes ARE the durable encoded-corpus table a PQ index
      // serves from, trained once at build time — Artifacts.memo trains
      // once per session.
      val (codes, _, c1) = pqCodesLut(s, d)
      // SDC LUT: centroid-pair partial L2 per subspace, micro-units
      val lut2 = c1.as("u").join(c1.as("v"), col("u.m") === col("v.m"))
        .select(col("u.m").as("m"), col("u.cid").as("ca"),
          col("v.cid").as("cb"),
          round(l2(col("u.cc"), col("v.cc")) * 1e6, 0).cast("bigint")
            .as("pdu"))
      // ADAPTIVE BLOCKING WIDTH (r14): the r14 ×8 scaling curve measured
      // single-code blocking at slope 20.1 — with a FIXED domain of
      // M=4 × K=16 buckets, per-bucket density grows with n and the
      // candidate join goes quadratic (the same birthday effect the
      // q67→q105 band-width pairing documents for simhash). Past 6 000
      // vectors (committed corpora: 500 @ sf0.01, 2 000 @ sf0.1 — both
      // stay narrow, outputs bit-identical) the blocking key widens to
      // the code PAIR of cyclically adjacent subspaces (domain 16 → 256
      // per m), the q105 move applied to PQ codes. The threshold is
      // computed IN-PLAN from a broadcast 1-row count and the oracle
      // replays the identical CASE rule, so engine and oracle flip
      // together. bk2 = −1 on both sides when narrow — a constant
      // equi-key, the join is unchanged.
      val codes2 = mutualKnnCodes2(codes)
      val cand = codes2.as("x").hint("shuffle_hash")
        .join(codes2.as("y"),
          col("x.m") === col("y.m") && col("x.code") === col("y.code") &&
            col("x.bk2") === col("y.bk2") &&
            col("x.vec_id") < col("y.vec_id"))
        .select(col("x.vec_id").as("va"), col("y.vec_id").as("vb"))
        .distinct()
      // sdc (pair-list-sized) and topk (edge-list-sized) each feed TWO
      // consumers (the direction union; the mutuality self-join) — pin
      // them so each derivation runs once (the q101/q134 edge-frame pin).
      val sdc = cand
        .join(codes.select(col("vec_id").as("va"), col("m"),
          col("code").as("ca")), "va")
        .join(codes.select(col("vec_id").as("vb"), col("m"),
          col("code").as("cb")).hint("shuffle_hash"), Seq("vb", "m"))
        .join(broadcast(lut2), Seq("m", "ca", "cb"))
        .groupBy("va", "vb").agg(sum("pdu").as("du"))
        .localCheckpoint()
      val directed = sdc
        .unionByName(sdc.select(col("vb").as("va"), col("va").as("vb"),
          col("du")))
      val wk = Window.partitionBy("va").orderBy(col("du"), col("vb"))
      val topk = directed.withColumn("rn", row_number().over(wk))
        .filter(col("rn") <= 5)
        .localCheckpoint()
      topk.join(topk.select(col("vb").as("va"), col("va").as("vb"))
          .hint("shuffle_hash"), Seq("va", "vb"), "left_semi")
        .filter(col("va") < col("vb"))
        .select(col("va"), col("vb"),
          (col("du").cast("double") / 1e6).as("approx_d"))
        .orderBy("va", "vb")
    }),

    // LATE-INTERACTION retrieval (ColBERT's MaxSim) — the third scoring
    // model beside single-vector cosine (q60) and lexical BM25 (q133):
    // query and document are each a BAG of token vectors, and
    // score(q, d) = Σ_qt max_dt ⟨qt, dt⟩ — per-query-token best match,
    // summed. Captures term-level alignment a pooled single vector
    // averages away, at bag-of-dots cost instead of cross-attention.
    // Multi-vector stub: each 64-dim embedding splits into 8 contiguous
    // 8-dim "token vectors" (the PQ subspace trick re-used as a
    // decoder stub — a real pipeline lands per-token vectors from the
    // encoder and every operator downstream is unchanged). Exactness:
    // each dot goes to integer MICRO-units before max/sum (the q119
    // recipe), so both reductions are order-free. Plan: the 8-row query
    // bag broadcasts over one exploded corpus scan; max-then-sum is two
    // map-side-combinable aggregates keyed on (doc, query-token) then
    // doc; top-10 rides TakeOrderedAndProject. At 100 TB MaxSim is the
    // RE-RANK stage over an ANN shortlist (q125) — the corpus-wide scan
    // here is the exhaustive baseline of that rerank.
    "q159_late_interaction" -> ((s, d) => {
      val sub = ld(s, d, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("ce"))
        .select(col("vec_id"), explode(expr(
          """transform(sequence(0, 7),
              t -> struct(t AS t, slice(ce, t * 8 + 1, 8) AS sv))""")).as("x"))
        .select(col("vec_id"), col("x.t").as("t"), col("x.sv").as("sv"))
      val qv = sub.filter(col("vec_id") === 0)
        .select(col("t").as("qt"), col("sv").as("qsv"))
      sub.filter(col("vec_id") =!= 0).crossJoin(broadcast(qv))
        .select(col("vec_id"), col("qt"),
          round(dotp(col("qsv"), col("sv")) * 1e6, 0).cast("bigint")
            .as("du"))
        .groupBy("vec_id", "qt").agg(max("du").as("mx"))
        .groupBy("vec_id").agg(sum("mx").as("score_micro"))
        .orderBy(col("score_micro").desc, col("vec_id")).limit(10)
    }),

    // IVF INDEX MAINTENANCE — the ops rung the serving queries (q64,
    // q125) leave open: a vector index is trained ONCE and then new
    // vectors arrive against FROZEN centroids; when the arrival
    // distribution drifts, some inverted lists balloon (probe latency on
    // those lists grows linearly) and the index needs retraining. FAISS
    // calls the assignment `add` after `train` — this is the audit that
    // decides WHEN to retrain. Train slice = vec_id % 5 ≠ 0 builds the
    // quantizer (8 centroids: deterministic init from the train slice's
    // 8 lowest ids, one Lloyd refine — the q125 recipe via the shared
    // kAssign/kRecenter blocks); delta = vec_id % 5 = 0 is then assigned
    // WITHOUT recentering (the frozen index, pinned once — both assign
    // passes broadcast it). Per list: train/new occupancy, growth, and
    // the SHARE DRIFT (post-delta share − train share, signed half-up
    // basis points, exact integers) with retrain_flag = |drift| ≥ 100 bp.
    // At 100 TB: assignment is one broadcast (k×64 doubles) over the
    // delta scan — embarrassingly parallel, the same map the ingest
    // writer runs; only counts shuffle.
    "q183_ivf_maintenance" -> ((s, d) => {
      val v = ld(s, d, "embeddings")
        .select(col("vec_id"),
          col("embedding").cast("array<double>").as("ce"))
      val train = v.filter(col("vec_id") % 5 =!= 0)
      val delta = v.filter(col("vec_id") % 5 === 0)
      // vec_id < 10 on the train slice = exactly the 8 ids {1,2,3,4,6,
      // 7,8,9} — deterministic init without a rank window
      val c0 = train.filter(col("vec_id") < 10)
        .select(col("vec_id").as("cid"), col("ce").as("cc"))
      val c1 = kRecenter(kAssign(train, c0)).localCheckpoint()
      val nTrain = kAssign(train, c1).groupBy("cid")
        .agg(count(lit(1)).as("n_train"))
      val nNew = kAssign(delta, c1).groupBy("cid")
        .agg(count(lit(1)).as("n_new"))
      val tots = nTrain.agg(sum("n_train").as("tot_train"))
        .crossJoin(nNew.agg(sum("n_new").as("tot_new")))
      nTrain.join(nNew, Seq("cid"), "full_outer")
        .select(col("cid"),
          coalesce(col("n_train"), lit(0L)).as("n_train"),
          coalesce(col("n_new"), lit(0L)).as("n_new"))
        .crossJoin(broadcast(tots))
        .selectExpr("cid", "n_train", "n_new",
          // a list can exist only on the delta side (train never reached
          // that centroid) — growth is undefined there, not a div-by-zero
          "CASE WHEN n_train = 0 THEN NULL ELSE" +
            " (2 * n_new * 10000 + n_train) DIV (2 * n_train) END" +
            " AS growth_bp",
          "(2 * n_train * 10000 + tot_train) DIV (2 * tot_train)" +
            " AS share_train_bp",
          "(2 * (n_train + n_new) * 10000 + (tot_train + tot_new))" +
            " DIV (2 * (tot_train + tot_new)) AS share_post_bp")
        .withColumn("drift_bp",
          col("share_post_bp") - col("share_train_bp"))
        .withColumn("retrain_flag", abs(col("drift_bp")) >= 100)
        .orderBy("cid")
    }),

    // RESIDUAL PQ (FAISS IVFPQ with by_residual=true) — the classic
    // refinement q125's Scaladoc names and defers: PQ codebooks trained
    // on (vector − its coarse centroid) instead of raw vectors, so the
    // same 4×16 code budget quantizes the residual field. MEASURED
    // HONESTLY: on this corpus's near-isotropic synthetic embeddings the
    // coarse quantizer removes little structure, and top-3-vs-exact
    // recall is within noise of q125's plain variant (sf0.01: 2/15 vs
    // 5/15; sf0.1: 4/15 vs 3/15) — the production accuracy/byte win
    // materializes when vectors CLUSTER (then residual spread ≪ raw
    // spread); the operator ships the exact FAISS topology with that
    // caveat on record rather than a claimed win the data can't show.
    // Topology is
    // q125's exactly (trained coarse quantizer, nprobe=2, ADC restricted
    // to probed lists); what changes is the geometry: (1) codes come
    // from residual subvectors; (2) the ADC LUT is PER PROBED LIST —
    // the query's residual differs per centroid, so LUT rows are keyed
    // (q_id, coarse cid, m, code): 5·2·4·16 = 640 BIGINT micro-units,
    // still a trivially honest broadcast whose size is probes×nprobe×
    // feature-space, never the corpus. The rlut join doubles as the
    // partition prune (only probed (q_id, cid) pairs exist in it —
    // same restriction shape PlanSpec pins for q125). All distances
    // round-6 before argmin, ADC sums in order-free BIGINT micro-units.
    "q185_residual_pq" -> ((s, d) => {
      val v = ld(s, d, "embeddings")
        .select(col("vec_id"),
          col("embedding").cast("array<double>").as("ce"))
      // DECLARED BUILD-TIME ARTIFACTS: the coarse quantizer c1 is
      // ivf-coarse's (q125 trains it identically, so it is read, not
      // retrained); the residual codebook rcc1 and the encoded codes table
      // rcodes are residual-pq's, trained once per (session, sfDir). The
      // corpus-sized residuals exist only inside that build's passes.
      val coarse = ivfCoarse(s, d)
      val c1 = coarse.c1
      val (rcc1, rcodes) = Artifacts.memo(s, s"residual-pq:$d")(
        residualBuild(s, corpus(s, d), coarse.book))
      // probe lists: nprobe=2 by coarse distance (q125's recipe)
      val probes = v.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("ce").as("qe"))
      val wq = org.apache.spark.sql.expressions.Window
        .partitionBy("q_id").orderBy(col("d2"), col("cid"))
      val lists = probes.crossJoin(broadcast(c1))
        .select(col("q_id"), col("cid"), col("qe"), col("cc"),
          round(l2(col("qe"), col("cc")), 6).as("d2"))
        .withColumn("crn", row_number().over(wq))
        .filter(col("crn") <= 2)
      // per-list query residual → subspaces → 640-row LUT broadcast
      val rlut = lists
        .select(col("q_id"), col("cid"),
          zip_with(col("qe"), col("cc"), (x, y) => x - y).as("qr"))
        .select(col("q_id"), col("cid"), explode(expr(
          """transform(sequence(0, 3),
              m -> struct(m AS m, slice(qr, m * 16 + 1, 16) AS qsub))"""))
          .as("x"))
        .select(col("q_id"), col("cid"), col("x.m").as("m"),
          col("x.qsub").as("qsub"))
        .join(broadcast(rcc1), Seq("m"))
        .select(col("q_id"), col("cid"), col("m"),
          col("rcid").as("code"),
          round(l2(col("qsub"), col("rcc")) * 1e6, 0).cast("bigint")
            .as("pdu"))
      val wr = org.apache.spark.sql.expressions.Window
        .partitionBy("q_id").orderBy(col("du"), col("neighbor_id"))
      rcodes.join(broadcast(rlut), Seq("cid", "m", "code"))
        .filter(col("vec_id") =!= col("q_id"))
        .groupBy(col("q_id"), col("vec_id").as("neighbor_id"))
        .agg(sum("pdu").as("du"))
        .withColumn("rn", row_number().over(wr))
        .filter(col("rn") <= 3)
        .select(col("q_id"), col("neighbor_id"),
          (col("du").cast("double") / 1e6).as("approx_d"),
          col("rn").cast("int").as("rn"))
        .orderBy("q_id", "rn")
    }),

    // Distributed ROC-AUC of a retrieval scorer, computed as the
    // Mann–Whitney U rank statistic WITHOUT a global per-row sort: AUC =
    // P(score(pos) > score(neg)) + ½P(=), and after collapsing the corpus
    // to per-DISTINCT-SCORE (n_pos, n_neg) counts (one map-side-combined
    // groupBy — the row count drops from N to |distinct round-6 scores|),
    // 2U = Σ_s n_pos(s)·(2·cumNeg(<s) + n_neg(s)) needs only a prefix sum
    // over those counts. The prefix sum itself is the textbook two-stage
    // distributed cumsum: coarse score-bucket subtotals (≤20 rows —
    // broadcastable at any corpus size) give each bucket its offset, and
    // the fine window runs PARTITIONED BY bucket — no single-partition
    // global window anywhere (the q141 exact-percentile lesson applied to
    // ranking). Scorer under eval: cosine-to-class-0-centroid separating
    // label 0 from the rest — the cheap dedup/routing probe whose
    // threshold q61/q68 would consume. Everything after round-6 scoring
    // is exact integer arithmetic; auc_bp is half-up basis points.
    // BIGINT headroom: 2U·10⁴ ≤ 2·(N/2)²·10⁴ stays under 2⁶³ through
    // N ≈ 4·10⁷ vectors; past that the bp division moves to DECIMAL(38).
    "q209_auc_roc" -> ((s, d) => {
      val e = withNorm(ld(s, d, "embeddings"))
      val cent = e.filter(col("label") === 0)
        .select(posexplode(col("emb")).as(Seq("pos", "x")))
        .groupBy("pos").agg(round(avg("x"), 6).as("cv"))
        .agg(array_sort(collect_list(struct(col("pos"), col("cv"))))
          .as("pc"))
        .select(expr("transform(pc, q -> q.cv)").as("cc"))
        .withColumn("cnrm", sqrt(dotp(col("cc"), col("cc"))))
      val byScore = e.crossJoin(broadcast(cent))
        .select(col("label"),
          round(dotp(col("emb"), col("cc")) / (col("nrm") * col("cnrm")), 6)
            .as("score"))
        .groupBy("score")
        .agg(sum(when(col("label") === 0, 1L).otherwise(0L)).as("np"),
          sum(when(col("label") =!= 0, 1L).otherwise(0L)).as("nn"))
        .withColumn("bucket", floor(col("score") * 10))
        // pinned: both the offset branch and the fine cumsum read this
        // |distinct scores|-sized frame — without it each branch re-runs
        // the corpus scan AND the centroid derivation (seen in the plan)
        .localCheckpoint()
      val offsets = byScore.groupBy("bucket")
        .agg(sum("nn").as("bnn"))
        .withColumn("off", coalesce(
          sum("bnn").over(Window.orderBy("bucket")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select("bucket", "off")
      byScore.join(broadcast(offsets), "bucket")
        .withColumn("cumn", col("off") + coalesce(
          sum("nn").over(Window.partitionBy("bucket").orderBy("score")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .agg(sum("np").as("n_pos"), sum("nn").as("n_neg"),
          sum(expr("np * (2 * cumn + nn)")).as("u2"))
        .selectExpr("n_pos", "n_neg", "u2",
          "(2 * u2 * 10000 + 2 * n_pos * n_neg)" +
            " DIV (4 * n_pos * n_neg) AS auc_bp")
    }),

    // Greedy k-center seeding (Gonzalez farthest-point traversal) — the
    // deterministic alternative to k-means++ sampling for cluster init
    // (q65/q111 consume seeds; bad seeds cost extra refine rounds over
    // the full corpus, so seeding quality IS a scale concern). Each of
    // the K−1 rounds is: one corpus scan against a BROADCAST 1-row new
    // center (running min-distance kept as a column, localCheckpoint'd so
    // round r does one distance, not r), then a global argmax — an agg to
    // ONE row, never a sort. Distances are round-6 squared L2 with
    // argmax ties broken by smallest vec_id (max of (d, −id) — exactly
    // replayable), giving the 2-approximation guarantee of the greedy
    // traversal with bit-stable center choices. Output: the 4 centers,
    // their assignment counts, and the k-center radius (max min-distance)
    // per center — the seed-quality report. At 100 TB: K scans of a
    // partitioned-in-place corpus, K broadcasts of one 64-dim row.
    "q214_kcenter_init" -> ((s, d) => {
      def l2sq(a: Column, b: Column): Column = round(l2(a, b), 6)
      val v = ld(s, d, "embeddings")
        .select(col("vec_id"),
          col("embedding").cast("array<double>").as("ce"))
        .localCheckpoint()
      var centers = v.filter(col("vec_id") === 0)
        .select(lit(1).as("crank"), col("vec_id").as("cid"),
          col("ce").as("cc"))
      var cur = v.crossJoin(broadcast(centers.select("cc")))
        .select(col("vec_id"), col("ce"),
          l2sq(col("ce"), col("cc")).as("dmin"))
        .localCheckpoint()
      for (k <- 2 to 4) {
        val far = cur
          .agg(expr("max(named_struct('d', dmin, 'nid', -vec_id))").as("m"))
          .select((col("m.nid") * -1).as("fid"))
        val nc = v.join(broadcast(far), col("vec_id") === col("fid"))
          .select(lit(k).as("crank"), col("vec_id").as("cid"),
            col("ce").as("cc"))
        centers = centers.unionByName(nc)
        cur = cur.crossJoin(broadcast(nc.select(col("cc").as("ncc"))))
          .select(col("vec_id"), col("ce"),
            least(col("dmin"), l2sq(col("ce"), col("ncc"))).as("dmin"))
          .localCheckpoint()
      }
      val cents = centers.localCheckpoint()
      v.crossJoin(broadcast(cents))
        .select(col("vec_id"), col("crank"),
          l2sq(col("ce"), col("cc")).as("dc"))
        .groupBy("vec_id")
        .agg(min(struct(col("dc"), col("crank"))).as("m"))
        .select(col("m.crank").as("crank"), col("m.dc").as("dc"))
        .groupBy("crank")
        .agg(count(lit(1)).as("n_assigned"), max("dc").as("radius"))
        .join(broadcast(cents.select("crank", "cid")), "crank")
        .select(col("crank"), col("cid").as("center_id"),
          col("n_assigned"), col("radius"))
        .orderBy("crank")
    }),

    // Retrieval evaluation — MRR, precision@10, recall@10 for the brute
    // cosine ranker (q60's plan shape) against same-label relevance: the
    // scorecard a pipeline produces BEFORE swapping the exact ranker for
    // an ANN index (q120 measures ANN-vs-exact overlap; this measures
    // whether the exact ranking finds anything USEFUL at all, per
    // query). 20 probe queries broadcast against one corpus scan; per
    // query the top-10 by (rounded cosine desc, id) — the rounding + id
    // tie-break that keeps fp association from reordering ranks across
    // engines. Reciprocal rank is half-up micro (1e6/rank), P@10 and
    // R@10 half-up bp; recall's denominator is the query's full
    // same-label cohort (minus itself), attached as a broadcast
    // |labels|-row frame. Per-query rows, not one pooled mean — rollups
    // hide exactly the per-query failures this report exists to catch.
    "q233_retrieval_eval" -> ((s, d) => {
      val e = withNorm(ld(s, d, "embeddings"))
      val q = e.filter(col("vec_id") < 20)
        .select(col("vec_id").as("q_id"), col("label").as("q_label"),
          col("emb").as("q_emb"), col("nrm").as("q_nrm"))
      val nl = e.groupBy("label").agg(count(lit(1)).as("n_label"))
      val sims = e.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("q_label"),
          col("vec_id").as("neighbor_id"), col("label"),
          round(dotp(col("q_emb"), col("emb")) /
            (col("q_nrm") * col("nrm")), 6).as("sim"))
      val w = Window.partitionBy("q_id")
        .orderBy(col("sim").desc, col("neighbor_id"))
      sims.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 10)
        .withColumn("rel", (col("label") === col("q_label")).cast("long"))
        .groupBy("q_id", "q_label")
        .agg(sum("rel").as("n_rel_at10"),
          min(when(col("rel") === 1, col("rn"))).as("fr"))
        .join(broadcast(nl.withColumnRenamed("label", "q_label")),
          "q_label")
        .selectExpr("q_id", "q_label",
          "CAST(fr AS BIGINT) AS first_rel_rank",
          "n_rel_at10", "n_label - 1 AS n_rel_total",
          "CASE WHEN fr IS NULL THEN 0L" +
            " ELSE (2 * 1000000 + fr) DIV (2 * fr) END AS rr_micro",
          "(2 * n_rel_at10 * 10000 + 10) DIV 20 AS p10_bp",
          "(2 * n_rel_at10 * 10000 + (n_label - 1))" +
            " DIV (2 * (n_label - 1)) AS r10_bp")
        .orderBy("q_id")
    }),

    // Matryoshka truncation audit — can the FIRST 16 of 64 embedding
    // dims serve retrieval? (The MRL deployment question: a 4× narrower
    // index is 4× cheaper to scan and ship — IF prefix-dim top-k agrees
    // with full-dim top-k.) Both rankings come from ONE corpus scan:
    // each (probe, vector) pair computes the 64-dim and 16-dim rounded
    // cosines side by side, two rank windows cut top-10 each, and the
    // per-probe overlap is the measured recall@10 of the truncated
    // index against full-dim truth (half-up bp). On THIS corpus's
    // near-isotropic synthetic embeddings the prefix dims carry no
    // privileged mass (unlike trained MRL embeddings) — so the audit is
    // exactly the tool that would catch a bad truncation decision.
    "q247_matryoshka_recall" -> ((s, d) => {
      val e = ld(s, d, "embeddings")
        .select(col("vec_id"),
          col("embedding").cast("array<double>").as("emb"))
        .withColumn("e16", expr("slice(emb, 1, 16)"))
        .withColumn("nrm", sqrt(dotp(col("emb"), col("emb"))))
        .withColumn("n16", sqrt(dotp(col("e16"), col("e16"))))
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("emb").as("qe"),
          col("e16").as("q16"), col("nrm").as("qn"), col("n16").as("qn16"))
      val sims = e.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id").as("neighbor_id"),
          round(dotp(col("qe"), col("emb")) / (col("qn") * col("nrm")), 6)
            .as("s64"),
          round(dotp(col("q16"), col("e16")) / (col("qn16") * col("n16")),
            6).as("s16"))
        .localCheckpoint() // both rankings cut from one scored frame
      def top(c: String) = sims
        .withColumn("rn", row_number().over(Window.partitionBy("q_id")
          .orderBy(col(c).desc, col("neighbor_id"))))
        .filter(col("rn") <= 10).select("q_id", "neighbor_id")
      // Left join from the probe frame: a probe whose truncated top-10
      // shares NOTHING with the full-dim top-10 is the headline failure
      // — it must appear as 0, not vanish from the report.
      val ov = top("s64")
        .join(top("s16"), Seq("q_id", "neighbor_id"), "left_semi")
        .groupBy("q_id").agg(count(lit(1)).as("n_overlap"))
      q.select("q_id").join(ov, Seq("q_id"), "left")
        .na.fill(0L, Seq("n_overlap"))
        .selectExpr("q_id", "n_overlap",
          "(2 * n_overlap * 10000 + 10) DIV 20 AS recall_bp")
        .orderBy("q_id")
    }),

    // k-means|| oversampling init (Bahmani et al. '12) — the
    // SAMPLING-based seeding beside q214's deterministic farthest-point
    // traversal: k-means++ needs k strictly sequential corpus passes,
    // k-means|| collapses them by sampling each point with probability
    // min(1, l·d²(x,C)/φ) in ONE pass (l = 8 here), then weighting the
    // oversampled candidates by how many points they'd absorb — the
    // tiny weighted set is what a final cheap clustering refines. The
    // "coin flips" are md5 uniforms against a cross-multiplied integer
    // inequality (u·φ < l·d²·10⁹ — distances in exact micro-units, the
    // comparison lifted to DECIMAL(38)/HUGEINT because u·φ exceeds
    // BIGINT past ~10⁹ total micro-distance), so the draw is
    // bit-replayable in both engines — no RNG state, the q211 trick.
    // Scale shape: one broadcast center row, ONE distance pass pinned
    // (φ, sampling, and weights all read it), candidates broadcast back
    // for the weight rollup — the corpus is scanned twice total, never
    // k times.
    "q258_kmeanspar_init" -> ((s, d) => {
      def l2sq(a: Column, b: Column): Column = round(l2(a, b), 6)
      val v = ld(s, d, "embeddings")
        .select(col("vec_id"),
          col("embedding").cast("array<double>").as("ce"))
        .localCheckpoint()
      val c0 = v.filter(col("vec_id") === 0).select(col("ce").as("cc"))
      val dist = v.crossJoin(broadcast(c0))
        .select(col("vec_id"), col("ce"),
          round(l2sq(col("ce"), col("cc")) * 1000000).cast("long")
            .as("dmi"))
        .localCheckpoint() // phi + draw + weights share one distance pass
      val phi = dist.agg(sum("dmi").as("phi"))
      val cand = dist.crossJoin(broadcast(phi))
        .withColumn("u", expr("CAST(conv(substring(md5(concat('kp:', " +
          "CAST(vec_id AS STRING))), 1, 8), 16, 10) AS BIGINT)" +
          " % 1000000000"))
        .filter(expr("CAST(u AS DECIMAL(38,0)) * phi" +
          " < 8 * CAST(dmi AS DECIMAL(38,0)) * 1000000000"))
        .select(col("vec_id").as("cid"), col("ce").as("cc"),
          col("dmi").as("sel_d2_micro"))
      val cands = cand.unionByName(
          v.filter(col("vec_id") === 0)
            .select(col("vec_id").as("cid"), col("ce").as("cc"))
            .withColumn("sel_d2_micro", lit(0L)))
        .localCheckpoint() // weight pass + output labels share the set
      v.crossJoin(broadcast(cands))
        .select(col("vec_id"), col("cid"),
          l2sq(col("ce"), col("cc")).as("dc"))
        .groupBy("vec_id")
        .agg(min(struct(col("dc"), col("cid"))).as("m"))
        .groupBy(col("m.cid").as("cid"))
        .agg(count(lit(1)).as("weight"))
        .join(broadcast(cands.select("cid", "sel_d2_micro")), "cid")
        .select("cid", "sel_d2_micro", "weight")
        .orderBy("cid")
    }),

    // MULTI-PROBE LSH — the recall knob q61's single-bucket probe
    // lacks: besides the query's home bucket, probe the 8 buckets at
    // Hamming distance 1 in hyperplane-sign space (flip one bit —
    // Lv et al.'s multi-probe insight: the most-likely-miss buckets
    // are the nearest perturbations), and MEASURE the lift: candidate
    // counts and recall@5 against the exact ranking for BOTH probe
    // policies from ONE bucket join (a per-pair in_single flag instead
    // of two scans). This is how a production ANN service trades query
    // fan-out for index memory — same table, 9× probes, no rebuild.
    // Candidates come only from bucket equi-joins (the probe set is
    // |queries|·9 rows, an honest broadcast); the exact baseline is
    // the q60 broadcast-probe scan, fine at any corpus size because
    // the probe side stays tiny. Recall in exact bp (hits·2000).
    "q308_multiprobe_lsh" -> ((s, d) => {
      val e = withNorm(ld(s, d, "embeddings"))
        .withColumn("bucket", lshBucket(col("emb")))
        .localCheckpoint() // corpus side of bucket join, sims, brute
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("emb").as("q_emb"),
          col("nrm").as("q_nrm"), col("bucket").as("qb"))
      val probes = q.select(col("q_id"),
        explode(array((0 to 8).map(i =>
          struct((if (i == 8) col("qb")
            else expr(s"qb ^ ${1 << i}")).as("pb"),
            lit(if (i == 8) 1L else 0L).as("is_home"))): _*)).as("p"))
        .select(col("q_id"), col("p.pb").as("pb"),
          col("p.is_home").as("is_home"))
      val pairs = e.select(col("vec_id"), col("bucket"))
        .join(broadcast(probes), col("bucket") === col("pb"))
        .filter(col("vec_id") =!= col("q_id"))
        .groupBy(col("q_id"), col("vec_id").as("neighbor_id"))
        .agg(max("is_home").as("in_single"))
      val sims = pairs
        .join(e.select(col("vec_id").as("neighbor_id"), col("emb"),
          col("nrm")).hint("shuffle_hash"), "neighbor_id")
        .join(broadcast(q.select(col("q_id"), col("q_emb"),
          col("q_nrm"))), "q_id")
        .select(col("q_id"), col("neighbor_id"), col("in_single"),
          round(dotp(col("q_emb"), col("emb")) /
            (col("q_nrm") * col("nrm")), 6).as("sim"))
        .localCheckpoint() // two rankings + counts cut from one frame
      val w = Window.partitionBy("q_id")
        .orderBy(col("sim").desc, col("neighbor_id"))
      val top5m = sims.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5).select(col("q_id"), col("neighbor_id"))
      val top5s = sims.filter(col("in_single") === 1L)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5).select(col("q_id"), col("neighbor_id"))
      val brute = e.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id").as("neighbor_id"),
          round(dotp(col("q_emb"), col("emb")) /
            (col("q_nrm") * col("nrm")), 6).as("sim"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5).select(col("q_id"), col("neighbor_id"))
      val counts = pairs.groupBy("q_id").agg(
        sum("in_single").as("n_cand_single"),
        count(lit(1)).as("n_cand_multi"))
      brute
        .join(top5s.withColumn("ins", lit(1L)),
          Seq("q_id", "neighbor_id"), "left")
        .join(top5m.withColumn("inm", lit(1L)),
          Seq("q_id", "neighbor_id"), "left")
        .groupBy("q_id").agg(
          (sum(coalesce(col("ins"), lit(0L))) * 2000L)
            .as("recall_single_bp"),
          (sum(coalesce(col("inm"), lit(0L))) * 2000L)
            .as("recall_multi_bp"))
        .join(broadcast(counts), "q_id")
        .select(col("q_id"), col("n_cand_single"), col("n_cand_multi"),
          col("recall_single_bp"), col("recall_multi_bp"))
        .orderBy("q_id")
    }),

    // PCA TOP PRINCIPAL COMPONENT by power iteration — the
    // dimensionality screen under every embedding operator here
    // (SemDeDup clusters, IVF lists, Matryoshka truncation q247 all
    // implicitly assume variance concentrates; this MEASURES it). The
    // covariance is the mean-centered identity n·Σxᵢxⱼ − ΣxᵢΣxⱼ (no
    // explicit centering pass) built from ONE vec_id-keyed self-join of
    // the exploded corpus — n·d² products, map-side combined into the
    // d×d Gram frame, the standard distributed covariance; everything
    // after is d²-sized (4096 rows), broadcast-trivial. Three power
    // rounds v ← Cv in exact integer micro units with max-|component|
    // renormalization; ALL signed divisions use the portable
    // floor-division identity (a − pmod(a,b)) / b so Spark's
    // truncating DIV and DuckDB's flooring // see an exactly-divisible
    // numerator and agree on negatives (the q232 quantized-chain
    // contract, extended to signed values). Output: the 64 component
    // values in micro units plus the Rayleigh variance-explained share
    // of trace in bp. At 100 TB only the covariance build touches the
    // corpus — one shuffle on (i,j); the iteration is free.
    "q289_pca_power" -> ((s, d) => {
      val e = ld(s, d, "embeddings")
        .select(col("vec_id"),
          posexplode(col("embedding").cast("array<double>"))
            .as(Seq("i", "v")))
        .select(col("vec_id"), col("i"),
          expr("CAST(floor(v * 1000000) AS BIGINT)").as("xq"))
        .localCheckpoint() // both sides of the Gram self-join + stats
      val nn = e.groupBy("i").agg(sum("xq").as("sx"), count(lit(1)).as("n"))
      val sxy = e.as("a").join(e.as("b").hint("shuffle_hash"), "vec_id")
        .groupBy(col("a.i").as("i"), col("b.i").as("j"))
        .agg(sum(col("a.xq") * col("b.xq")).as("sxy"))
      val cs = sxy
        .join(nn.select(col("i"), col("sx").as("sxi"), col("n"))
          .hint("shuffle_hash"), "i")
        .join(nn.select(col("i").as("j"), col("sx").as("sxj"))
          .hint("shuffle_hash"), "j")
        .select(col("i"), col("j"),
          expr("CAST(n AS DECIMAL(20,0)) * sxy" +
            " - CAST(sxi AS DECIMAL(20,0)) * sxj").as("cn"),
          expr("CAST(n AS DECIMAL(20,0)) * n * 1000000").as("dn"))
        .select(col("i"), col("j"),
          expr("CAST((cn - (((cn % dn) + dn) % dn)) DIV dn AS BIGINT)")
            .as("c"))
        .localCheckpoint() // consumed by 3 rounds + trace + Rayleigh
      var v = cs.select(col("i").as("j")).distinct()
        .select(col("j"), lit(1000000L).as("vv"))
      for (_ <- 1 to 3) {
        val u = cs.join(v.hint("shuffle_hash"), "j")
          .groupBy("i").agg(sum(col("c") * col("vv")).as("u"))
        val m = u.agg(max(abs(col("u"))).as("m"))
        v = u.crossJoin(broadcast(m))
          .select(col("i").as("j"),
            expr("CAST((u * 1000000 - (((u * 1000000) % m) + m) % m)" +
              " DIV m AS BIGINT)").as("vv"))
          .localCheckpoint()
      }
      val vv2 = v.agg(sum(col("vv") * col("vv")).as("vv2"))
      val tr = cs.filter(col("i") === col("j")).agg(sum("c").as("tr"))
      val vcv = cs
        .join(v.select(col("j"), col("vv").as("vj")).hint("shuffle_hash"),
          "j")
        .join(v.select(col("j").as("i"), col("vv").as("vi"))
          .hint("shuffle_hash"), "i")
        .agg(sum(expr("CAST(vi AS DECIMAL(20,0)) * c * vj")).as("vcv"))
      v.crossJoin(broadcast(vcv)).crossJoin(broadcast(vv2))
        .crossJoin(broadcast(tr))
        .select(col("j").as("pos"), col("vv").as("v_micro"),
          expr("CAST((10000 * vcv) DIV (CAST(vv2 AS DECIMAL(20,0)) * tr)" +
            " AS BIGINT)").as("var_bp"))
        .orderBy("pos")
    }),

    // CLUSTER MEDOID — the most-central REAL member per label, the
    // representative a cluster summary actually ships (a centroid is
    // a synthetic average; a medoid is an exhibitable document):
    // argmax over members of total within-cluster cosine. All-pairs
    // ONLY within a label (the q111 SemDeDup stance — cluster-bounded
    // quadratic work, ~50² per label here, never corpus²); sims are
    // rounded at 1e-6 BEFORE the per-member sum (rounded at 1e-4,
    // ten decades above accumulation noise), and the argmax breaks
    // ties by vec_id via row_number so both engines elect the same
    // medoid bit-for-bit.
    "q394_cluster_medoid" -> ((s, d) => {
      val e = withNorm(ld(s, d, "embeddings")).localCheckpoint()
      val a = e.select(col("label"), col("vec_id").as("va"),
        col("emb").as("ea"), col("nrm").as("na"))
      val b = e.select(col("label").as("lb"), col("vec_id").as("vb"),
        col("emb").as("eb"), col("nrm").as("nb"))
      val tot = a.join(b.hint("shuffle_hash"),
          col("label") === col("lb") && col("va") =!= col("vb"))
        .select(col("label"), col("va"),
          round(graft.functions.VectorExprs.dotp(col("ea"), col("eb"))
            / (col("na") * col("nb")), 6).as("sim"))
        .groupBy("label", "va")
        .agg(round(sum("sim"), 4).as("total_sim"),
          count(lit(1)).as("n_others"))
      val w = Window.partitionBy("label")
        .orderBy(col("total_sim").desc, col("va"))
      tot.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("label"), col("va").as("medoid_id"),
          col("total_sim"), (col("n_others") + 1).as("n_members"))
        .orderBy("label")
    }),

    // AVERAGE PRECISION@20 — the rank-position-weighted retrieval
    // metric q233's P@10/MRR scorecard lacks: AP rewards putting ALL
    // relevant hits early, not just the first (MRR) or any (P@k).
    // Same ranker shape as q60/q233 (20 probes broadcast, one corpus
    // scan, rounded-cosine + id tie-break so ranks are bit-stable);
    // the cumulative-hits window runs on the top-20 frame per probe.
    // The denominator min(R, 20) uses the label-cohort size from the
    // |labels|-row count frame — broadcast, never a corpus re-join.
    "q398_average_precision" -> ((s, d) => {
      val e = withNorm(ld(s, d, "embeddings")).localCheckpoint()
      val q = e.filter(col("vec_id") < 20)
        .select(col("vec_id").as("q_id"), col("label").as("q_label"),
          col("emb").as("qe"), col("nrm").as("qn"))
      val r = e.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("q_label"), col("vec_id"),
          col("label"),
          round(dotp(col("qe"), col("emb"))
            / (col("qn") * col("nrm")), 6).as("sim"))
        .withColumn("rn", row_number().over(Window.partitionBy("q_id")
          .orderBy(col("sim").desc, col("vec_id"))))
        .filter(col("rn") <= 20)
        .withColumn("rel",
          when(col("label") === col("q_label"), 1L).otherwise(0L))
        .withColumn("hits", sum("rel").over(Window.partitionBy("q_id")
          .orderBy("rn")
          .rowsBetween(Window.unboundedPreceding, 0)))
      val lc = e.groupBy("label").agg(count(lit(1)).as("cnt"))
      r.groupBy("q_id", "q_label")
        .agg(sum(when(col("rel") === 1,
          col("hits").cast("double") / col("rn")).otherwise(0.0))
          .as("ap_num"))
        .join(broadcast(lc), col("q_label") === col("label"))
        .select(col("q_id"),
          round(col("ap_num") / least(col("cnt") - 1, lit(20L)), 6)
            .as("ap20"),
          (col("cnt") - 1).as("n_rel"))
        .orderBy("q_id")
    }),

    // nDCG@10 — GRADED-relevance ranking quality (same-label gain 2,
    // adjacent-label gain 1), the metric that distinguishes "right
    // things, wrong order" from "wrong things": DCG discounts by
    // log₂(rank+1); the IDEAL DCG is a CLOSED FORM over cohort
    // counts (best top-10 = all 2s then 1s), so no second ranking
    // pass exists anywhere — idcg comes from the |labels|-row count
    // frame joined to a 10-row depth range. Probes whose cohorts are
    // empty (idcg = 0) are excluded rather than divided.
    "q399_ndcg" -> ((s, d) => {
      val e = withNorm(ld(s, d, "embeddings")).localCheckpoint()
      val q = e.filter(col("vec_id") < 20)
        .select(col("vec_id").as("q_id"), col("label").as("q_label"),
          col("emb").as("qe"), col("nrm").as("qn"))
      val dcg = e.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("q_label"), col("vec_id"),
          col("label"),
          round(dotp(col("qe"), col("emb"))
            / (col("qn") * col("nrm")), 6).as("sim"))
        .withColumn("rn", row_number().over(Window.partitionBy("q_id")
          .orderBy(col("sim").desc, col("vec_id"))))
        .filter(col("rn") <= 10)
        .withColumn("gain",
          when(col("label") === col("q_label"), 2L)
            .when(abs(col("label") - col("q_label")) === 1, 1L)
            .otherwise(0L))
        .groupBy("q_id", "q_label")
        .agg(round(sum(col("gain") / log2(col("rn") + 1)), 6)
          .as("dcg"))
      val lc = e.groupBy("label").agg(count(lit(1)).as("cnt"))
        .localCheckpoint() // three broadcast joins below
      val coh = dcg.select(col("q_id"), col("q_label"))
        .join(broadcast(lc), col("q_label") === col("label"))
        .select(col("q_id"), col("q_label"),
          (col("cnt") - 1).as("n2"))
        .join(broadcast(lc.select((col("label") + 1).as("lm"),
          col("cnt").as("cm"))), col("q_label") === col("lm"), "left")
        .join(broadcast(lc.select((col("label") - 1).as("lp"),
          col("cnt").as("cp"))), col("q_label") === col("lp"), "left")
        .select(col("q_id"), col("n2"),
          (coalesce(col("cm"), lit(0L)) + coalesce(col("cp"), lit(0L)))
            .as("n1"))
      val ks = s.range(1, 11).select(col("id").as("k"))
      val ideal = coh.crossJoin(broadcast(ks))
        .withColumn("g",
          when(col("k") <= least(col("n2"), lit(10L)), 2L)
            .when(col("k") <= least(col("n2") + col("n1"), lit(10L)),
              1L)
            .otherwise(0L))
        .groupBy("q_id")
        .agg(round(sum(col("g") / log2(col("k") + 1)), 6).as("idcg"))
      dcg.join(ideal, "q_id")
        .filter(col("idcg") > 0)
        .select(col("q_id"), col("dcg"), col("idcg"),
          round(col("dcg") / col("idcg"), 6).as("ndcg10"))
        .orderBy("q_id")
    }),

    // SIMPLIFIED SILHOUETTE — cluster-quality score per label using
    // CENTROID distances (a = own centroid, b = nearest other), the
    // O(n·k) formulation that replaces true silhouette's O(n²)
    // all-pairs at scale (the same linearization trade q111 makes,
    // documented): negative silhouettes are points sitting closer to
    // a foreign centroid than their own — the per-cluster misplaced
    // count is the actionable output. Centroids use q63's exact
    // assembly (rounded per-component means), distances rounded at
    // 1e-6 before the min/compare so both engines agree on every
    // a/b choice.
    "q403_silhouette" -> ((s, d) => {
      val e = ld(s, d, "embeddings")
      val cent = e
        .select(col("label").as("cl"),
          posexplode(col("embedding").cast("array<double>"))
            .as(Seq("pos", "v")))
        .groupBy("cl", "pos").agg(round(avg("v"), 6).as("c"))
        .groupBy("cl")
        .agg(array_sort(collect_list(struct(col("pos"), col("c"))))
          .as("pc"))
        .select(col("cl"), expr("transform(pc, x -> x.c)").as("cc"))
      val dist = e.crossJoin(broadcast(cent))
        .select(col("vec_id"), col("label"), col("cl"),
          round(sqrt(aggregate(
            zip_with(col("embedding").cast("array<double>"), col("cc"),
              (x, c) => (x - c) * (x - c)),
            lit(0.0), (acc, v) => acc + v)), 6).as("dist"))
      dist.groupBy("vec_id", "label")
        .agg(min(when(col("cl") === col("label"), col("dist")))
            .as("a"),
          min(when(col("cl") =!= col("label"), col("dist"))).as("b"))
        .select(col("label"),
          // micro-unit integer: a/b are 6-dp-rounded, so both engines
          // compute the identical ratio double and ×1e6+round agrees
          // bit-for-bit; summing INTEGERS avoids the avg() accumulation
          // -order ulp that flipped label 8's round(6) mean at sf0.1
          expr("CAST(round(((b - a) / greatest(a, b)) * 1000000)" +
            " AS BIGINT)").as("sil_e6"))
        .groupBy("label")
        .agg(count(lit(1)).as("n"),
          sum("sil_e6").cast("long").as("sum_sil_e6"),
          expr("count_if(sil_e6 < 0)").as("n_misplaced"))
        .orderBy("label")
    }),

    // NEAREST-CENTROID CLASSIFIER EVAL — the cheapest embedding-
    // quality probe there is (the "can the space separate labels at
    // all?" gate you run before paying for a linear probe): assign
    // every vector to its nearest label centroid and emit the
    // CONFUSION MATRIX. Centroids are the q63 6-dp-rounded per-dim
    // means (engine-identical); squared distances are per-row
    // zip_with folds rounded 6 BEFORE the argmin, so the nearest
    // pick can't flip on a cross-engine ulp; ties break on label.
    // Shapes: |labels|-sized centroid broadcast against one
    // checkpointed vector frame — at 100 TB this is the same
    // broadcast-scan as q63, never a pair join.
    "q443_nearest_centroid_eval" -> ((s, d) => {
      val e = ld(s, d, "embeddings")
        .select(col("vec_id"), col("label"),
          col("embedding").cast("array<double>").as("ce"))
        .localCheckpoint()
      val cent = e
        .select(col("label").as("cl"),
          posexplode(col("ce")).as(Seq("pos", "v")))
        .groupBy("cl", "pos").agg(round(avg("v"), 6).as("c"))
        .groupBy("cl")
        .agg(array_sort(collect_list(struct(col("pos"), col("c"))))
          .as("pc"))
        .select(col("cl"), expr("transform(pc, x -> x.c)").as("cc"))
      e.crossJoin(broadcast(cent))
        .select(col("vec_id"), col("label"), col("cl"),
          round(aggregate(
            zip_with(col("ce"), col("cc"),
              (x, c) => (x - c) * (x - c)),
            lit(0.0), (acc, v) => acc + v), 6).as("d2"))
        .withColumn("rk", row_number().over(
          Window.partitionBy("vec_id").orderBy(col("d2"), col("cl"))))
        .filter(col("rk") === 1)
        .groupBy("label", "cl")
        .agg(count(lit(1)).as("n"))
        .selectExpr("label", "cl AS pred", "n")
        .orderBy("label", "pred")
    }),

    // EMBEDDING NORM AUDIT — the datasheet QA pass every vector
    // store needs before ANN indexing (zero vectors break cosine;
    // norm drift across labels means the encoder changed under
    // you): per-row L2 norms fold deterministically inside the
    // array, round to INTEGER micro-units at the row (the q403
    // sum-order lesson: aggregate integers, never raw doubles), and
    // the per-label rollup is all-BIGINT — half-up mean, min/max,
    // zero-vector count, dim contract check. One scan, one keyed
    // rollup.
    "q444_embedding_norm_audit" -> ((s, d) => {
      ld(s, d, "embeddings")
        .selectExpr("label",
          "CAST(round(sqrt(aggregate(CAST(embedding AS ARRAY<DOUBLE>)," +
            " 0.0D, (acc, x) -> acc + x * x)) * 1000000) AS BIGINT)" +
            " AS norm_e6",
          "CAST(size(embedding) AS BIGINT) AS dim")
        .groupBy("label")
        .agg(count(lit(1)).as("n"),
          expr("CAST(min(dim) AS BIGINT)").as("dim_min"),
          expr("CAST(max(dim) AS BIGINT)").as("dim_max"),
          min("norm_e6").as("norm_min_e6"),
          max("norm_e6").as("norm_max_e6"),
          expr("CAST((2 * sum(norm_e6) + count(*))" +
            " DIV (2 * count(*)) AS BIGINT)").as("norm_mean_e6"),
          expr("count_if(norm_e6 = 0)").as("n_zero_vecs"))
        .orderBy("label")
    }),

    // EMBEDDING LEARNING CURVE — how much labeled data does the
    // space need? q443's nearest-centroid eval re-fit on 10%, 30%,
    // and 100% md5 training samples, all three fits evaluated on
    // the FULL corpus in one pass: the centroid frames are
    // (frac,label)-keyed (30 rows total, broadcast), distances are
    // the same 6-dp-rounded row folds, and the curve is accuracy
    // vs training fraction — flat curve ⇒ the space is easy,
    // rising ⇒ buy more labels. One corpus scan feeds both the
    // three fits and the eval (checkpoint-pinned).
    "q445_learning_curve" -> ((s, d) => {
      val e = ld(s, d, "embeddings")
        .selectExpr("vec_id", "label",
          "CAST(embedding AS ARRAY<DOUBLE>) AS ce",
          "CAST(conv(substr(md5(concat('lc#'," +
            " CAST(vec_id AS STRING))), 1, 4), 16, 10) AS BIGINT)" +
            " % 100 AS pick")
        .localCheckpoint()
      val fr = s.range(1, 4).selectExpr(
        "CASE id WHEN 1 THEN 10 WHEN 2 THEN 30 ELSE 100 END AS frac")
      val cent = e.crossJoin(broadcast(fr))
        .filter(col("pick") < col("frac"))
        .select(col("frac"), col("label").as("cl"),
          posexplode(col("ce")).as(Seq("pos", "v")))
        .groupBy("frac", "cl", "pos").agg(round(avg("v"), 6).as("c"))
        .groupBy("frac", "cl")
        .agg(array_sort(collect_list(struct(col("pos"), col("c"))))
          .as("pc"))
        .select(col("frac"), col("cl"),
          expr("transform(pc, x -> x.c)").as("cc"))
      val nTrain = e.crossJoin(broadcast(fr))
        .filter(col("pick") < col("frac"))
        .groupBy("frac").agg(count(lit(1)).as("n_train"))
      e.crossJoin(broadcast(cent))
        .select(col("frac"), col("vec_id"), col("label"), col("cl"),
          round(aggregate(
            zip_with(col("ce"), col("cc"),
              (x, c) => (x - c) * (x - c)),
            lit(0.0), (acc, v) => acc + v), 6).as("d2"))
        .withColumn("rk", row_number().over(
          Window.partitionBy("frac", "vec_id")
            .orderBy(col("d2"), col("cl"))))
        .filter(col("rk") === 1)
        .groupBy("frac")
        .agg(count(lit(1)).as("n_eval"),
          expr("sum(CAST(label = cl AS BIGINT))").as("n_correct"))
        .join(broadcast(nTrain), "frac")
        .selectExpr("CAST(frac AS BIGINT) AS frac", "n_train",
          "n_eval", "n_correct",
          "CAST((2 * n_correct * 10000 + n_eval) DIV (2 * n_eval)" +
            " AS BIGINT) AS acc_bp")
        .orderBy("frac")
    }),

    // EMBEDDING ISOTROPY AUDIT — anisotropic spaces (one dominant
    // direction, high mean pairwise cosine) break cosine retrieval;
    // this measures both WITHOUT a pair join: with unit-normalized
    // rows quantized to e6 integers at the row (the q444 recipe —
    // cross-row sums stay exact), the mean pairwise cosine falls
    // out of the identity E[cos] = (‖Σu‖² − n)/(n(n−1)) from
    // per-dim integer sums, and the dominant-direction share is
    // the max per-dim variance over the total (n·Σx² − S² per dim,
    // HUGEINT-scale squares in DECIMAL(38,0)). One scan, one
    // 64-row per-dim frame.
    "q470_embedding_isotropy" -> ((s, d) => {
      val dims = ld(s, d, "embeddings")
        .selectExpr("vec_id",
          "CAST(embedding AS ARRAY<DOUBLE>) AS ce")
        .selectExpr("vec_id",
          "sqrt(aggregate(ce, 0.0D, (acc, x) -> acc + x * x))" +
            " AS nrm", "ce")
        .filter(col("nrm") > 0)
        .select(posexplode(expr(
          "transform(ce, x -> CAST(round(x / nrm * 1000000)" +
            " AS BIGINT))")).as(Seq("pos", "u")))
        .groupBy("pos")
        .agg(count(lit(1)).as("n"), sum("u").as("su"),
          sum(expr("CAST(u AS DECIMAL(38,0)) * u")).as("suu"))
        .localCheckpoint()
      dims.agg(max("n").as("n"),
          sum(expr("CAST(su AS DECIMAL(38,0)) * su")).as("ss"),
          sum("suu").as("tvar_raw"),
          max(expr("CAST(n AS DECIMAL(38,0)) * suu - CAST(su" +
            " AS DECIMAL(38,0)) * su")).as("maxvar"),
          sum(expr("CAST(n AS DECIMAL(38,0)) * suu - CAST(su" +
            " AS DECIMAL(38,0)) * su")).as("totvar"))
        .selectExpr("n",
          "CASE WHEN ss >= CAST(n AS DECIMAL(38,0)) * 1000000000000" +
            " THEN CAST((2 * (ss - CAST(n AS DECIMAL(38,0))" +
            " * 1000000000000) + CAST(n AS DECIMAL(38,0)) * (n - 1)" +
            " * 1000000) DIV (2 * CAST(n AS DECIMAL(38,0)) * (n - 1)" +
            " * 1000000) AS BIGINT)" +
            " ELSE -CAST((2 * (CAST(n AS DECIMAL(38,0))" +
            " * 1000000000000 - ss) + CAST(n AS DECIMAL(38,0))" +
            " * (n - 1) * 1000000) DIV (2 * CAST(n AS DECIMAL(38,0))" +
            " * (n - 1) * 1000000) AS BIGINT) END AS mean_cos_e6",
          "CAST((2 * maxvar * 10000 + totvar) DIV (2 * totvar)" +
            " AS BIGINT) AS top_dim_share_bp")
    }),

    // ROBUST SCALER FIT — the serving-side preprocessing artifact:
    // per-dimension median and IQR (the outlier-immune alternative
    // to mean/std), fitted the value-domain way — raw coords
    // quantize to e6 integers at the row, each dim's percentiles
    // are ceil-indexed picks over its own cumulated value frame
    // (the q466 machinery, partitioned by dim — 64 independent
    // small sorts, never one global). The 64-row output IS the
    // scaler config a feature pipeline ships.
    "q472_robust_scaler_fit" -> ((s, d) => {
      val vals = ld(s, d, "embeddings")
        .select(posexplode(expr(
          "transform(CAST(embedding AS ARRAY<DOUBLE>)," +
            " x -> CAST(round(x * 1000000) AS BIGINT))"))
          .as(Seq("pos", "q")))
        .groupBy("pos", "q").agg(count(lit(1)).as("cnt"))
        .localCheckpoint()
      val w = Window.partitionBy("pos").orderBy("q")
        .rowsBetween(Window.unboundedPreceding, 0)
      vals
        .withColumn("cum", sum("cnt").over(w))
        .withColumn("n", sum("cnt").over(Window.partitionBy("pos")))
        .groupBy("pos")
        .agg(max("n").as("n"),
          min(when(expr("cum >= (n + 3) DIV 4"), col("q")))
            .as("p25_e6"),
          min(when(expr("cum >= (n + 1) DIV 2"), col("q")))
            .as("p50_e6"),
          min(when(expr("cum >= (3 * n + 3) DIV 4"), col("q")))
            .as("p75_e6"))
        .selectExpr("CAST(pos AS BIGINT) AS pos", "n", "p25_e6",
          "p50_e6", "p75_e6", "p75_e6 - p25_e6 AS iqr_e6")
        .orderBy("pos")
    }),
  )

  /** q125's composed IVF×PQ chain, ranked pre-top-k — shared with q120's
    * composed-variant recall column. */
  private def ivfPqRanked(s: SparkSession, d: String): DataFrame = {
      val v = ld(s, d, "embeddings")
        .select(col("vec_id"),
          col("embedding").cast("array<double>").as("ce"))
      // trained coarse quantizer + inverted lists: the ivf-coarse
      // declared artifact (trained once per session, see ivfCoarse)
      val IvfCoarse(c1, asg, _) = ivfCoarse(s, d)
      val probes = v.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("ce").as("qe"))
      val wq = org.apache.spark.sql.expressions.Window
        .partitionBy("q_id").orderBy(col("d2"), col("cid"))
      val lists = probes.crossJoin(broadcast(c1))
        .select(col("q_id"), col("cid"),
          round(l2(col("qe"), col("cc")), 6).as("d2"))
        .withColumn("crn", row_number().over(wq))
        .filter(col("crn") <= 2)
        .select(col("q_id"), col("cid"))
      val (codes, lut, _) = pqCodesLut(s, d)
      val wr = org.apache.spark.sql.expressions.Window
        .partitionBy("q_id").orderBy(col("du"), col("neighbor_id"))
      codes
        .join(asg, Seq("vec_id"))
        .join(broadcast(lists), Seq("cid")) // probed lists only
        .filter(col("vec_id") =!= col("q_id"))
        .join(broadcast(lut), Seq("q_id", "m", "code"))
        .groupBy(col("q_id"), col("vec_id").as("neighbor_id"))
        .agg(sum("pdu").as("du"))
        .withColumn("rn", row_number().over(wr))
  }

  /** Shared CTE chain for q68/q102's oracles: originals (`c`, as DOUBLE[])
    * and their int8 quant-dequant reconstructions (`recon`), replaying the
    * Spark-side quantizer expression-for-expression. */
  private val duckRecon =
    """c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ce
                     FROM embeddings),
               e AS (SELECT vec_id, i AS pos, ce[i] AS v
                     FROM c, range(1, 65) t(i)),
               stats AS (SELECT pos, min(v) AS mn, max(v) AS mx
                         FROM e GROUP BY pos),
               rr AS (SELECT vec_id, pos,
                             CASE WHEN mx = mn THEN v
                                  ELSE mn + round((v - mn) / (mx - mn) * 255)
                                       * (mx - mn) / 255 END AS rv
                      FROM e JOIN stats USING (pos)),
               recon AS (SELECT vec_id, list(rv ORDER BY pos) AS re
                         FROM rr GROUP BY vec_id)"""

  private val duckCos =
    "list_inner_product(%A, %B) / (sqrt(list_inner_product(%A, %A)) * sqrt(list_inner_product(%B, %B)))"
  private def dcos(a: String, b: String): String =
    duckCos.replace("%A", a).replace("%B", b)

  private val duckL2 =
    "round(list_sum(list_transform(range(1, 65), i -> (%V[i] - %C[i]) * (%V[i] - %C[i]))), 6)"

  /** Explicit left-associated 64-term dot against a plane literal — NOT
    * list_inner_product: the bucket needs the exact SIGN of the projection
    * (no rounding to hide fp-association differences), and `a[1]*w0 +
    * a[2]*w1 + ...` parses left-associated in both engines, reproducing
    * DotProduct's sequential fold bit-for-bit. The plane constants print
    * via Double.toString (shortest round-trip form), so DuckDB parses the
    * identical binary double. */
  private def duckPlaneDot(arr: String, w: Seq[Double]): String =
    w.zipWithIndex.map { case (v, i) => s"$arr[${i + 1}] * ($v)" }
      .mkString(" + ")

  /** q153's blocking-key frame (vec_id, m, code, bk2): each code row is
    * annotated with the cyclically-adjacent subspace's code, and bk2
    * flips from the constant −1 (narrow single-code blocking) to that
    * adjacent code (wide pair blocking) when the corpus exceeds
    * [[MutualKnnWideningThreshold]] — computed IN-PLAN from a broadcast
    * 1-row countDistinct so a 1000-executor run needs no driver action.
    * Factored out of q153 so `MutualKnnThresholdSpec` can extract the
    * threshold from a BUILT plan: q153's own final plan hides this CASE
    * behind the sdc/topk localCheckpoints (LogicalRDD leaves). */
  private[graft] def mutualKnnCodes2(codes: DataFrame): DataFrame = {
    val nv = codes.agg(countDistinct("vec_id").as("nv"))
    codes.as("a")
      .join(codes.as("b"),
        col("a.vec_id") === col("b.vec_id") &&
          col("b.m") === (col("a.m") + 1) % 4)
      .select(col("a.vec_id"), col("a.m"), col("a.code"),
        col("b.code").as("code2"))
      .crossJoin(broadcast(nv))
      .withColumn("bk2",
        when(col("nv") > MutualKnnWideningThreshold, col("code2"))
          .otherwise(lit(-1L)))
      .select("vec_id", "m", "code", "bk2")
  }

  /** The PQ artifact's shape: M=4 subspaces of 16 dims, K=16 centroids
    * per subspace, LUT probes = vec_id < 5. */
  private val PqM = 4
  private val PqSub = 16
  private val PqK = 16
  private val Probes = 5
  /** The IVF coarse quantizer's shape: one 64-dim space, K=8 lists. */
  private val IvfK = 8

  private val codesSchema = new StructType()
    .add("vec_id", LongType).add("m", IntegerType, nullable = false)
    .add("code", LongType)
  private val lutSchema = new StructType()
    .add("q_id", LongType).add("m", IntegerType, nullable = false)
    .add("code", LongType).add("pdu", LongType)
  private def bookSchema(cid: String, cc: String) = new StructType()
    .add("m", IntegerType, nullable = false).add(cid, LongType)
    .add(cc, ArrayType(DoubleType), nullable = false)
  private val coarseSchema = new StructType()
    .add("cid", LongType).add("cc", ArrayType(DoubleType), nullable = false)
  private val listsSchema = new StructType()
    .add("vec_id", LongType).add("cid", LongType)
  private val residualCodesSchema = codesSchema.add("cid", LongType)

  private def frame(s: SparkSession, rows: Seq[Row], schema: StructType) =
    s.createDataFrame(s.sparkContext.parallelize(rows, 1), schema)

  private def bookFrame(s: SparkSession, book: Lloyd.Codebook,
      cid: String, cc: String): DataFrame =
    frame(s, book.rows.map { case (m, id, c) => Row(m, id, c.toSeq) },
      bookSchema(cid, cc))

  /** The corpus every build-time quantizer trains on. */
  private def corpus(s: SparkSession, d: String): DataFrame =
    ld(s, d, "embeddings").select("vec_id", "embedding")

  /** PQ training + encoding shared by q119/q120 (full-corpus ADC), q125
    * (IVF-restricted ADC) and q153 (SDC mutual-kNN): returns (codes, lut,
    * c1) — the per-vector (m, code) assignments, the 5-probe × M × K
    * integer-micro partial distances, and the trained codebook. One
    * training keeps the consumers bit-identical (same init, same single
    * Lloyd refine, same rounding).
    *
    * DECLARED BUILD-TIME ARTIFACT (graft.engine.Artifacts): trained once
    * per (session, sfDir), localCheckpoint-pinned, and NOT torn down by
    * the bench between queries — in production the codebook + encoded
    * codes ARE durable index tables built offline (the q153 comment's
    * point). Re-training per query execution misprices the serving path
    * and, in the r12 driver detail, stacked four checkpoint generations
    * inside each PQ query's warm+3-run window. */
  private def pqCodesLut(s: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame) =
    Artifacts.memo(s, s"pq-codes-lut:$d")(pqBuild(s, corpus(s, d)))

  /** Trains the PQ codebook on `emb` (vec_id, embedding) with the
    * [[Lloyd]] kernel: the corpus is pinned for the build only, then one
    * job collects the init rows (which include the probes), one runs the
    * Lloyd step, and the codes are one map-side pass against c1. The
    * three outputs are pinned eagerly: codes is the encoded corpus (n×M
    * rows of 3 ints), lut 5×M×K rows, c1 M×K rows — all far smaller than
    * the raw vectors they replace. */
  private[graft] def pqBuild(s: SparkSession, emb: DataFrame)
      : (DataFrame, DataFrame, DataFrame) =
    Artifacts.scoped(s, emb) { pinned =>
      val (m, sub, k) = (PqM, PqSub, PqK)
      val vs = Lloyd.vectors(pinned, m * sub)
      val seeds = vs.filter(_.id < k).collect().toSeq
      val c1 = Lloyd.step(vs, Lloyd.init(seeds, m, sub, k))
      val codes = s.createDataFrame(Lloyd.codes(vs, c1).map {
        case (id, mm, cid, _) => Row(id, mm, cid) }, codesSchema)
      // The filters hold for every row by construction; they give the
      // pinned frames the constraints the serving plans were built against
      // (the probe range of q_id, non-null join keys), so those plans infer
      // no extra filters.
      val lut = frame(s, Lloyd.lut(seeds.filter(_.id < Probes), c1).map {
        case (q, mm, cid, pdu) => Row(q, mm, cid, pdu) }, lutSchema)
        .filter(col("q_id") < Probes)
      (codes.localCheckpoint(), lut.localCheckpoint(),
        bookFrame(s, c1, "cid", "cc").localCheckpoint())
    }

  /** The IVF coarse quantizer shared by q125/q120 (list-restricted ADC)
    * and q185 (residual PQ): c1 (cid, cc), the inverted lists (vec_id,
    * cid), and the trained codebook itself. Deterministic init from
    * vec_id < 8 plus one Lloyd refine — kAssign/kRecenter's recipe, run
    * by the [[Lloyd]] kernel. DECLARED BUILD-TIME ARTIFACT: the centroids
    * and the list assignment ARE the index a deployment builds offline;
    * both frames are tiny pins. */
  private[graft] final case class IvfCoarse(c1: DataFrame, lists: DataFrame,
      book: Lloyd.Codebook)

  private[graft] def ivfCoarse(s: SparkSession, d: String): IvfCoarse =
    Artifacts.memo(s, s"ivf-coarse:$d")(ivfBuild(s, corpus(s, d)))

  private[graft] def ivfBuild(s: SparkSession, emb: DataFrame): IvfCoarse =
    Artifacts.scoped(s, emb) { pinned =>
      val k = IvfK
      val vs = Lloyd.vectors(pinned, PqM * PqSub)
      val book = Lloyd.step(vs,
        Lloyd.init(vs.filter(_.id < k).collect().toSeq, 1, PqM * PqSub, k))
      val c1 = frame(s, book.rows.map { case (_, id, c) => Row(id, c.toSeq) },
        coarseSchema).localCheckpoint()
      val lists = s.createDataFrame(Lloyd.codes(vs, book).map {
        case (id, _, cid, _) => Row(id, cid) }, listsSchema).localCheckpoint()
      IvfCoarse(c1, lists, book)
    }

  /** q185's residual PQ: the IVF coarse quantizer is [[ivfCoarse]]'s (the
    * same init and refine, so it is read, not retrained); the kernel trains
    * only the residual codebook rcc1 (m, rcid, rcc) on (vector − its
    * coarse centroid) and encodes the corpus as rcodes (vec_id, m, code,
    * cid). The residuals exist only inside the build's passes. */
  private[graft] def residualBuild(s: SparkSession, emb: DataFrame,
      coarse: Lloyd.Codebook): (DataFrame, DataFrame) =
    Artifacts.scoped(s, emb) { pinned =>
      val (m, sub, k) = (PqM, PqSub, PqK)
      val rs = Lloyd.vectors(pinned, m * sub)
        .flatMap(v => Lloyd.residual(v, coarse))
      val rcc1 = Lloyd.step(rs,
        Lloyd.init(rs.filter(_.id < k).collect().toSeq, m, sub, k))
      // not-null on the join keys: as in pqBuild, the constraint the
      // serving plan was built against
      val rcodes = s.createDataFrame(Lloyd.codes(rs, rcc1).map {
        case (id, mm, code, cid) => Row(id, mm, code, cid) },
        residualCodesSchema)
        .filter(col("vec_id").isNotNull && col("cid").isNotNull)
      (bookFrame(s, rcc1, "rcid", "rcc").localCheckpoint(),
        rcodes.localCheckpoint())
    }

  /** q119/q120's PQ + ADC chain, ranked per probe. The 64-dim corpus is
    * split into M=4 16-dim subspaces; each subspace gets its own
    * K=16-centroid codebook (deterministic init = subvectors of vec_id
    * 0..15, one Lloyd refine — exactly q65's recipe per subspace,
    * round-6-before-argmin, ties by centroid id). Every vector is then 4
    * small codes, and a probe's distance to ANY vector is a 4-term table
    * lookup: lut(q, m, code) = partial L2 to that subspace centroid. THE
    * SCALE POINT: the ADC scan reads the CODES table (4 ints/row, at
    * scale 4 BYTES — 64× narrower than the 64-float row) joined to a
    * broadcast LUT of nq×M×K entries; the raw embeddings are touched only
    * by the tiny codebook-training and LUT passes. Partial distances go
    * to exact integer MICRO-units before the per-pair sum
    * (CAST(round(l2*1e6) AS BIGINT)): a 4-double sum has engine/
    * partition-order-dependent last-ulp drift that round(,6) can't hide,
    * while a BIGINT sum is order-free — the q11 exact-cents recipe
    * applied to distances. The DuckDB oracle replays codebooks, codes,
    * LUT, and ranking bit-for-bit. */
  private def pqAdcRanked(s: SparkSession, d: String): DataFrame = {
    val (codes, lut, _) = pqCodesLut(s, d)
    val wq = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("du"), col("neighbor_id"))
    codes.join(broadcast(lut), Seq("m", "code"))
      .filter(col("vec_id") =!= col("q_id"))
      .groupBy(col("q_id"), col("vec_id").as("neighbor_id"))
      .agg(sum("pdu").as("du"))
      .withColumn("rn", row_number().over(wq))
  }

  /** 16-dim L2 for q119's subspace distances (duckL2 is the 64-dim form). */
  private def duckL2Sub(a: String, b: String): String =
    s"list_sum(list_transform(range(1, 17), i -> ($a[i] - $b[i]) * ($a[i] - $b[i])))"

  /** Shared CTE chain replaying q119's PQ: subspace split, deterministic
    * init + one Lloyd refine, codes, integer-micro LUT, order-free BIGINT
    * ADC sums, ranked in `r`. q119 selects from it; q120 reuses it to
    * score ADC recall against the exact ranking. */
  private def duckPqCtes: String =
    s"""c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ce
              FROM embeddings),
        sv AS (SELECT vec_id, CAST(m AS INTEGER) AS m,
                      ce[(CAST(m AS INTEGER) * 16 + 1):(CAST(m AS INTEGER) * 16 + 16)]
                        AS sub
               FROM c, range(0, 4) t(m)),
        c0 AS (SELECT m, vec_id AS cid, sub AS cc FROM sv
               WHERE vec_id < 16),
        a0 AS (SELECT sv.vec_id, sv.m, sv.sub, c0.cid,
                      round(${duckL2Sub("sv.sub", "c0.cc")}, 6) AS dd
               FROM sv JOIN c0 ON sv.m = c0.m),
        a0w AS (SELECT *, row_number() OVER
                  (PARTITION BY vec_id, m ORDER BY dd, cid) AS arn
                FROM a0),
        asg0 AS (SELECT vec_id, m, sub, cid FROM a0w WHERE arn = 1),
        cpos AS (SELECT m, cid, CAST(p AS INTEGER) AS p,
                        round(avg(sub[CAST(p AS INTEGER)]), 6) AS cv
                 FROM asg0, range(1, 17) t(p)
                 GROUP BY m, cid, p),
        c1 AS (SELECT m, cid, list(cv ORDER BY p) AS cc
               FROM cpos GROUP BY m, cid),
        a1 AS (SELECT sv.vec_id, sv.m, sv.sub, c1.cid,
                      round(${duckL2Sub("sv.sub", "c1.cc")}, 6) AS dd
               FROM sv JOIN c1 ON sv.m = c1.m),
        a1w AS (SELECT *, row_number() OVER
                  (PARTITION BY vec_id, m ORDER BY dd, cid) AS arn
                FROM a1),
        codes AS (SELECT vec_id, m, cid AS code FROM a1w WHERE arn = 1),
        lut AS (SELECT sv.vec_id AS q_id, sv.m, c1.cid AS code,
                       CAST(round(${duckL2Sub("sv.sub", "c1.cc")} * 1000000)
                            AS BIGINT) AS pdu
                FROM sv JOIN c1 ON sv.m = c1.m WHERE sv.vec_id < 5),
        adc AS (SELECT q_id, v.vec_id AS neighbor_id, sum(pdu) AS du
                FROM codes v JOIN lut ON v.m = lut.m
                                     AND v.code = lut.code
                WHERE v.vec_id <> lut.q_id
                GROUP BY q_id, v.vec_id),
        r AS (SELECT *, row_number() OVER
                (PARTITION BY q_id ORDER BY du, neighbor_id) AS rn
              FROM adc)"""

  /** q125's IVF composition over [[duckPqCtes]]'s codes/lut: trained
    * coarse centroids (vec_id<8 init + one Lloyd refine, round-6 argmin,
    * cid tie-break — kAssign/kRecenter verbatim), nprobe=2 coarse probe,
    * ADC restricted to probed lists — ranked in `rp`. Shared by the q125
    * oracle and q120's composed-variant recall columns. Uses `probes2`
    * (not q120's `probes`) to avoid CTE name collisions when both chains
    * appear in one statement. */
  private def duckIvfCtes: String = {
    val coarseL2 =
      duckL2.replace("%V", "p.qe").replace("%C", "cc1.cc")
    val a0L2 = duckL2.replace("%V", "c.ce").replace("%C", "cc0.cc")
    val a1L2 = duckL2.replace("%V", "c.ce").replace("%C", "cc1.cc")
    s"""cc0 AS (SELECT vec_id AS cid, ce AS cc FROM c WHERE vec_id < 8),
              ca0 AS (SELECT c.vec_id, c.ce, cc0.cid, $a0L2 AS dd
                      FROM c CROSS JOIN cc0),
              ca0w AS (SELECT *, row_number() OVER
                         (PARTITION BY vec_id ORDER BY dd, cid) AS arn
                       FROM ca0),
              casg0 AS (SELECT vec_id, ce, cid FROM ca0w WHERE arn = 1),
              ccl AS (SELECT cid, CAST(p AS INTEGER) AS p,
                             round(avg(ce[CAST(p AS INTEGER)]), 6) AS cv
                      FROM casg0, range(1, 65) t(p)
                      GROUP BY cid, p),
              cc1 AS (SELECT cid, list(cv ORDER BY p) AS cc
                      FROM ccl GROUP BY cid),
              ca1 AS (SELECT c.vec_id, cc1.cid, $a1L2 AS dd
                      FROM c CROSS JOIN cc1),
              ca1w AS (SELECT *, row_number() OVER
                         (PARTITION BY vec_id ORDER BY dd, cid) AS arn
                       FROM ca1),
              asg AS (SELECT vec_id, cid FROM ca1w WHERE arn = 1),
              probes2 AS (SELECT vec_id AS q_id, ce AS qe FROM c
                          WHERE vec_id < 5),
              coarse AS (SELECT q_id, cid, $coarseL2 AS d2
                         FROM probes2 p CROSS JOIN cc1),
              cw AS (SELECT *, row_number() OVER
                       (PARTITION BY q_id ORDER BY d2, cid) AS crn
                     FROM coarse),
              lists AS (SELECT q_id, cid FROM cw WHERE crn <= 2),
              adcp AS (SELECT lists.q_id, v.vec_id AS neighbor_id,
                              sum(pdu) AS du
                       FROM codes v
                       JOIN asg ON v.vec_id = asg.vec_id
                       JOIN lists ON asg.cid = lists.cid
                       JOIN lut ON v.m = lut.m AND v.code = lut.code
                               AND lut.q_id = lists.q_id
                       WHERE v.vec_id <> lists.q_id
                       GROUP BY lists.q_id, v.vec_id),
              rp AS (SELECT *, row_number() OVER
                       (PARTITION BY q_id ORDER BY du, neighbor_id) AS rn
                     FROM adcp)"""
  }

  val oracle: Map[String, String] = Map(
    // q329: same micro quantization, truncated-mean centroids, and
    // (d2, class) argmin tie-break.
    "q329_label_noise" ->
      """WITH vm AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
                            i - 1 AS pos,
                            CAST(round(CAST(embedding[i] AS DOUBLE)
                                 * 1000000, 0) AS BIGINT) AS vm
                     FROM embeddings,
                          unnest(range(1, len(embedding) + 1)) AS t(i)),
              cent AS (SELECT label AS clabel, pos,
                              CAST(sum(vm) AS BIGINT) // count(*) AS cm
                       FROM vm GROUP BY 1, 2),
              dist AS (SELECT vec_id, label, clabel,
                              sum((vm - cm) * (vm - cm)) AS d2
                       FROM vm JOIN cent USING (pos)
                       GROUP BY 1, 2, 3),
              near AS (SELECT *, row_number() OVER (PARTITION BY vec_id
                                ORDER BY d2, clabel) AS rn
                       FROM dist)
         SELECT label, clabel AS nearest_label,
                CAST(count(*) AS BIGINT) AS n,
                (label <> clabel) AS is_noise
         FROM near WHERE rn = 1 GROUP BY 1, 2 ORDER BY 1, 2""",

    // q325: exact recursive-CTE closure over the same core-cell
    // adjacency; micro-unit projection identical per element.
    "q325_grid_dbscan" ->
      """WITH RECURSIVE
          pts AS (SELECT vec_id,
                         list_sum(list_transform(ce[1:32],
                           v -> CAST(round(v * 1000000, 0) AS BIGINT)))
                           AS xm,
                         list_sum(list_transform(ce[33:64],
                           v -> CAST(round(v * 1000000, 0) AS BIGINT)))
                           AS ym
                  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ce
                        FROM embeddings)),
          st AS (SELECT min(xm) AS minx, max(xm) AS maxx,
                        min(ym) AS miny, max(ym) AS maxy FROM pts),
          cells AS (SELECT vec_id,
                           (xm - minx) * 24 // (maxx - minx + 1) AS cx,
                           (ym - miny) * 24 // (maxy - miny + 1) AS cy
                    FROM pts, st),
          dense AS (SELECT cx, cy, cx * 1024 + cy AS cell,
                           count(*) AS npts
                    FROM cells GROUP BY 1, 2 HAVING count(*) >= 4),
          edges AS (SELECT a.cell AS da, b.cell AS db
                    FROM dense a JOIN dense b
                      ON abs(a.cx - b.cx) <= 1 AND abs(a.cy - b.cy) <= 1
                     AND a.cell < b.cell),
          syms AS (SELECT da AS a, db AS b FROM edges
                   UNION ALL SELECT db, da FROM edges),
          reach AS (SELECT cell AS a, cell AS b FROM dense
                    UNION
                    SELECT r.a, s.b FROM reach r JOIN syms s ON r.b = s.a),
          lab AS (SELECT a AS cell, min(b) AS cluster_id
                  FROM reach GROUP BY a),
          summary AS (SELECT CAST(cluster_id AS BIGINT) AS cluster_id,
                             CAST(count(*) AS BIGINT) AS n_cells,
                             CAST(sum(npts) AS BIGINT) AS n_points,
                             CAST(min(cx) AS BIGINT) AS min_cx,
                             CAST(max(cx) AS BIGINT) AS max_cx,
                             CAST(min(cy) AS BIGINT) AS min_cy,
                             CAST(max(cy) AS BIGINT) AS max_cy
                      FROM dense JOIN lab USING (cell) GROUP BY 1),
          noise AS (SELECT CAST(-1 AS BIGINT) AS cluster_id,
                           CAST(0 AS BIGINT) AS n_cells,
                           CAST(count(*) AS BIGINT) AS n_points,
                           CAST(-1 AS BIGINT) AS min_cx,
                           CAST(-1 AS BIGINT) AS max_cx,
                           CAST(-1 AS BIGINT) AS min_cy,
                           CAST(-1 AS BIGINT) AS max_cy
                    FROM cells c LEFT JOIN dense d
                      ON c.cx = d.cx AND c.cy = d.cy
                    WHERE d.cell IS NULL)
         SELECT * FROM summary
         UNION ALL SELECT * FROM noise
         ORDER BY cluster_id""",
    // q289: full replay of the integer power-iteration chain — covariance
    // via the n·Σxy − ΣxΣy identity in HUGEINT (Spark side: DECIMAL(38)),
    // three unrolled rounds, all signed divisions through the shared
    // floor-division identity so // and DIV agree.
    "q289_pca_power" -> {
      def round(uN: String, mN: String, vN: String, prev: String) =
        s"""$uN AS (SELECT cs.i, sum(c * vv) AS u
                    FROM cs JOIN $prev ON cs.j = $prev.j GROUP BY 1),
            $mN AS (SELECT max(abs(u)) AS m FROM $uN),
            $vN AS (SELECT i AS j,
                      CAST((u * 1000000 - (((u * 1000000) % m) + m) % m)
                           // m AS BIGINT) AS vv
                    FROM $uN, $mN)"""
      s"""WITH e AS (SELECT vec_id, i - 1 AS i,
                       CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000)
                            AS BIGINT) AS xq
                     FROM embeddings,
                          unnest(range(1, len(embedding) + 1)) AS t(i)),
              nn AS (SELECT i, sum(xq) AS sx, count(*) AS n
                     FROM e GROUP BY 1),
              sxy AS (SELECT a.i AS i, b.i AS j, sum(a.xq * b.xq) AS sxy
                      FROM e a JOIN e b USING (vec_id) GROUP BY 1, 2),
              cs AS (SELECT i, j,
                       CAST((cn - (((cn % dn) + dn) % dn)) // dn
                            AS BIGINT) AS c
                     FROM (SELECT sxy.i, sxy.j,
                             CAST(ni.n AS HUGEINT) * sxy
                               - CAST(ni.sx AS HUGEINT) * nj.sx AS cn,
                             CAST(ni.n AS HUGEINT) * ni.n * 1000000 AS dn
                           FROM sxy JOIN nn ni ON sxy.i = ni.i
                                    JOIN nn nj ON sxy.j = nj.i)),
              v0 AS (SELECT DISTINCT i AS j, CAST(1000000 AS BIGINT) AS vv
                     FROM e),
              ${round("u1", "m1", "v1", "v0")},
              ${round("u2", "m2", "v2", "v1")},
              ${round("u3", "m3", "v3", "v2")},
              vv2 AS (SELECT sum(vv * vv) AS vv2 FROM v3),
              tr AS (SELECT sum(c) AS tr FROM cs WHERE i = j),
              vcv AS (SELECT sum(CAST(vi.vv AS HUGEINT) * c * vj.vv) AS vcv
                      FROM cs JOIN v3 vj ON cs.j = vj.j
                              JOIN v3 vi ON cs.i = vi.j)
         SELECT v3.j AS pos, v3.vv AS v_micro,
                CAST((10000 * vcv) // (CAST(vv2 AS HUGEINT) * tr)
                     AS BIGINT) AS var_bp
         FROM v3, vcv, vv2, tr ORDER BY pos"""
    },

    // full PQ replay: same subspace split, same deterministic init + one
    // full residual replay: coarse chain = duckIvfCtes verbatim (the
    // q125 recipe), then residual subspace split, residual codebook
    // train (same init/refine/argmin discipline), per-probed-list query
    // residual LUT, and order-free BIGINT ADC. duckPqCtes is included
    // for its `c`; its raw-vector PQ chain goes unreferenced (DuckDB
    // skips unreferenced CTEs).
    "q185_residual_pq" -> {
      def sub16(v: String) =
        s"$v[(CAST(m AS INTEGER) * 16 + 1):(CAST(m AS INTEGER) * 16 + 16)]"
      s"""WITH $duckPqCtes,
              $duckIvfCtes,
              res AS (SELECT a.vec_id, a.cid,
                             list_transform(range(1, 65),
                               i -> c.ce[i] - k.cc[i]) AS re
                      FROM asg a
                      JOIN c ON a.vec_id = c.vec_id
                      JOIN cc1 k ON a.cid = k.cid),
              rsv AS (SELECT vec_id, cid, CAST(m AS INTEGER) AS m,
                             ${sub16("re")} AS sub
                      FROM res, range(0, 4) t(m)),
              rc0 AS (SELECT m, vec_id AS rcid, sub AS rcc FROM rsv
                      WHERE vec_id < 16),
              rr0 AS (SELECT rsv.vec_id, rsv.m, rsv.sub, rc0.rcid,
                             round(${duckL2Sub("rsv.sub", "rc0.rcc")}, 6)
                               AS dd
                      FROM rsv JOIN rc0 ON rsv.m = rc0.m),
              rr0w AS (SELECT *, row_number() OVER
                         (PARTITION BY vec_id, m ORDER BY dd, rcid) AS arn
                       FROM rr0),
              rasg0 AS (SELECT vec_id, m, sub, rcid FROM rr0w
                        WHERE arn = 1),
              rcpos AS (SELECT m, rcid, CAST(p AS INTEGER) AS p,
                               round(avg(sub[CAST(p AS INTEGER)]), 6) AS cv
                        FROM rasg0, range(1, 17) t(p)
                        GROUP BY m, rcid, p),
              rcc1 AS (SELECT m, rcid, list(cv ORDER BY p) AS rcc
                       FROM rcpos GROUP BY m, rcid),
              rr1 AS (SELECT rsv.vec_id, rsv.cid, rsv.m, rc.rcid,
                             round(${duckL2Sub("rsv.sub", "rc.rcc")}, 6)
                               AS dd
                      FROM rsv JOIN rcc1 rc ON rsv.m = rc.m),
              rr1w AS (SELECT *, row_number() OVER
                         (PARTITION BY vec_id, m ORDER BY dd, rcid) AS arn
                       FROM rr1),
              rcodes AS (SELECT vec_id, cid, m, rcid AS code FROM rr1w
                         WHERE arn = 1),
              qres AS (SELECT l.q_id, l.cid,
                              list_transform(range(1, 65),
                                i -> p.qe[i] - k.cc[i]) AS qr
                       FROM lists l
                       JOIN probes2 p ON l.q_id = p.q_id
                       JOIN cc1 k ON l.cid = k.cid),
              qsv AS (SELECT q_id, cid, CAST(m AS INTEGER) AS m,
                             ${sub16("qr")} AS qsub
                      FROM qres, range(0, 4) t(m)),
              rlut AS (SELECT q.q_id, q.cid, q.m, rc.rcid AS code,
                              CAST(round(${duckL2Sub("q.qsub", "rc.rcc")}
                                * 1000000) AS BIGINT) AS pdu
                       FROM qsv q JOIN rcc1 rc ON q.m = rc.m),
              radc AS (SELECT rl.q_id, v.vec_id AS neighbor_id,
                              sum(rl.pdu) AS du
                       FROM rcodes v
                       JOIN rlut rl ON v.cid = rl.cid AND v.m = rl.m
                                   AND v.code = rl.code
                       WHERE v.vec_id <> rl.q_id
                       GROUP BY rl.q_id, v.vec_id),
              rrk AS (SELECT *, row_number() OVER
                        (PARTITION BY q_id ORDER BY du, neighbor_id) AS rn
                      FROM radc)
         SELECT q_id, neighbor_id,
                CAST(du AS DOUBLE) / 1000000 AS approx_d,
                CAST(rn AS INTEGER) AS rn
         FROM rrk WHERE rn <= 3 ORDER BY q_id, rn"""
    },
    // full replay of the frozen quantizer: train-slice init + one Lloyd
    // refine (round-6 before argmin, cid tie-break), both occupancy
    // assignments, and the exact half-up share-drift arithmetic
    "q183_ivf_maintenance" -> {
      val a0L2 = duckL2.replace("%V", "t.ce").replace("%C", "cc0.cc")
      val a1L2 = duckL2.replace("%V", "t.ce").replace("%C", "cc1.cc")
      val adL2 = duckL2.replace("%V", "dl.ce").replace("%C", "cc1.cc")
      s"""WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ce
                     FROM embeddings),
              train AS (SELECT * FROM c WHERE vec_id % 5 <> 0),
              delta AS (SELECT * FROM c WHERE vec_id % 5 = 0),
              cc0 AS (SELECT vec_id AS cid, ce AS cc FROM train
                      WHERE vec_id < 10),
              a0 AS (SELECT t.vec_id, t.ce, cc0.cid, $a0L2 AS dd
                     FROM train t CROSS JOIN cc0),
              a0w AS (SELECT *, row_number() OVER
                        (PARTITION BY vec_id ORDER BY dd, cid) AS arn
                      FROM a0),
              asg0 AS (SELECT vec_id, ce, cid FROM a0w WHERE arn = 1),
              ccl AS (SELECT cid, CAST(p AS INTEGER) AS p,
                             round(avg(ce[CAST(p AS INTEGER)]), 6) AS cv
                      FROM asg0, range(1, 65) t(p)
                      GROUP BY cid, p),
              cc1 AS (SELECT cid, list(cv ORDER BY p) AS cc
                      FROM ccl GROUP BY cid),
              at AS (SELECT cid, count(*) AS n_train
                     FROM (SELECT t.vec_id, cc1.cid, $a1L2 AS dd,
                                  row_number() OVER (PARTITION BY t.vec_id
                                    ORDER BY $a1L2, cc1.cid) AS arn
                           FROM train t CROSS JOIN cc1)
                     WHERE arn = 1 GROUP BY cid),
              ad AS (SELECT cid, count(*) AS n_new
                     FROM (SELECT dl.vec_id, cc1.cid, $adL2 AS dd,
                                  row_number() OVER (PARTITION BY dl.vec_id
                                    ORDER BY $adL2, cc1.cid) AS arn
                           FROM delta dl CROSS JOIN cc1)
                     WHERE arn = 1 GROUP BY cid),
              tots AS (SELECT (SELECT sum(n_train) FROM at) AS tot_train,
                              (SELECT sum(n_new) FROM ad) AS tot_new),
              m AS (SELECT coalesce(at.cid, ad.cid) AS cid,
                           coalesce(n_train, 0) AS n_train,
                           coalesce(n_new, 0) AS n_new
                    FROM at FULL OUTER JOIN ad ON at.cid = ad.cid),
              f AS (SELECT cid, n_train, n_new,
                           CASE WHEN n_train = 0 THEN NULL
                                ELSE (2 * n_new * 10000 + n_train)
                                  // (2 * n_train) END AS growth_bp,
                           (2 * n_train * 10000 + tot_train)
                             // (2 * tot_train) AS share_train_bp,
                           (2 * (n_train + n_new) * 10000
                             + (tot_train + tot_new))
                             // (2 * (tot_train + tot_new))
                             AS share_post_bp
                    FROM m, tots)
         SELECT cid, CAST(n_train AS BIGINT) AS n_train,
                CAST(n_new AS BIGINT) AS n_new,
                CAST(growth_bp AS BIGINT) AS growth_bp,
                CAST(share_train_bp AS BIGINT) AS share_train_bp,
                CAST(share_post_bp AS BIGINT) AS share_post_bp,
                CAST(share_post_bp - share_train_bp AS BIGINT) AS drift_bp,
                abs(share_post_bp - share_train_bp) >= 100 AS retrain_flag
         FROM f ORDER BY cid"""
    },
    // Lloyd refine (round-6 before argmin, cid tie-break), same
    // integer-micro LUT and order-free BIGINT ADC sums
    "q119_ann_ivfpq" ->
      s"""WITH $duckPqCtes
         SELECT q_id, neighbor_id, CAST(du AS DOUBLE) / 1000000 AS approx_d,
                CAST(rn AS INTEGER) AS rn
         FROM r WHERE rn <= 3 ORDER BY q_id, rn""",
    // the ADC top-50 shortlist (q119's chain) scored against the exact
    // full-precision L2 top-3 — recall in exact integer basis points
    "q120_pq_recall" -> {
      val exL2 = duckL2.replace("%V", "x.ce").replace("%C", "p.qe")
      s"""WITH $duckPqCtes,
              $duckIvfCtes,
              adc3 AS (SELECT q_id, neighbor_id FROM r WHERE rn <= 50),
              adci AS (SELECT q_id, neighbor_id FROM rp WHERE rn <= 50),
              probes AS (SELECT vec_id AS q_id, ce AS qe FROM c
                         WHERE vec_id < 5),
              ed AS (SELECT p.q_id, x.vec_id AS neighbor_id, $exL2 AS d
                     FROM c x CROSS JOIN probes p
                     WHERE x.vec_id <> p.q_id),
              er AS (SELECT *, row_number() OVER
                       (PARTITION BY q_id ORDER BY d, neighbor_id) AS ern
                     FROM ed),
              e3 AS (SELECT q_id, neighbor_id FROM er WHERE ern <= 3)
         SELECT e3.q_id, CAST(count(*) AS INTEGER) AS k,
                CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL
                              THEN 1 ELSE 0 END) AS INTEGER) AS n_hit,
                CAST((10000 * sum(CASE WHEN a.neighbor_id IS NOT NULL
                                       THEN 1 ELSE 0 END)) // count(*)
                     AS INTEGER) AS recall_bp,
                CAST(sum(CASE WHEN i.neighbor_id IS NOT NULL
                              THEN 1 ELSE 0 END) AS INTEGER) AS n_hit_ivf,
                CAST((10000 * sum(CASE WHEN i.neighbor_id IS NOT NULL
                                       THEN 1 ELSE 0 END)) // count(*)
                     AS INTEGER) AS recall_bp_ivf
         FROM e3 LEFT JOIN adc3 a
           ON e3.q_id = a.q_id AND e3.neighbor_id = a.neighbor_id
         LEFT JOIN adci i
           ON e3.q_id = i.q_id AND e3.neighbor_id = i.neighbor_id
         GROUP BY e3.q_id ORDER BY e3.q_id"""
    },
    // q119's chain + the coarse probe: per-label centroids (L2), nprobe=2
    // lists, ADC restricted to vectors of the probed lists
    "q125_ann_ivf_pq" ->
      s"""WITH $duckPqCtes,
              $duckIvfCtes
         SELECT q_id, neighbor_id, CAST(du AS DOUBLE) / 1000000 AS approx_d,
                CAST(rn AS INTEGER) AS rn
         FROM rp WHERE rn <= 3 ORDER BY q_id, rn""",
    // Full LSH replay: identical deterministic hyperplanes, identical
    // bucket assignment (sign-exact projections), identical top-5 ranking
    // — upgrades q61 from the LSH-vs-brute property spec to a real
    // hash-matched row.
    // q308: full replay — same bucket expr as q61, the 9-probe set via
    // xor bit flips, one pairs frame carrying in_single, both rankings.
    "q308_multiprobe_lsh" -> {
      val bucket = hyperplanes.zipWithIndex.map { case (w, p) =>
        s"(CASE WHEN ${duckPlaneDot("ce", w)} > 0 THEN ${1 << p} ELSE 0 END)" }
        .mkString("\n                   + ")
      s"""WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ce
                     FROM embeddings),
              b AS (SELECT vec_id, ce, $bucket AS bucket FROM c),
              probesq AS (SELECT vec_id AS q_id, ce AS qe, bucket AS qb
                          FROM b WHERE vec_id < 10),
              pr AS (SELECT q_id,
                            CASE WHEN i = 8 THEN qb
                                 ELSE xor(qb, 1 << i) END AS pb,
                            CASE WHEN i = 8 THEN 1 ELSE 0 END AS is_home
                     FROM probesq, unnest(range(0, 9)) AS t(i)),
              pairs AS (SELECT pr.q_id, x.vec_id AS neighbor_id,
                               max(is_home) AS in_single
                        FROM b x JOIN pr ON x.bucket = pr.pb
                        WHERE x.vec_id <> pr.q_id GROUP BY 1, 2),
              sims AS (SELECT p.q_id, p.neighbor_id, p.in_single,
                              round(${dcos("q.qe", "x.ce")}, 6) AS sim
                       FROM pairs p JOIN b x ON p.neighbor_id = x.vec_id
                                    JOIN probesq q ON p.q_id = q.q_id),
              t5m AS (SELECT q_id, neighbor_id FROM
                        (SELECT *, row_number() OVER (PARTITION BY q_id
                           ORDER BY sim DESC, neighbor_id) AS rn
                         FROM sims) WHERE rn <= 5),
              t5s AS (SELECT q_id, neighbor_id FROM
                        (SELECT *, row_number() OVER (PARTITION BY q_id
                           ORDER BY sim DESC, neighbor_id) AS rn
                         FROM sims WHERE in_single = 1) WHERE rn <= 5),
              brute AS (SELECT q_id, neighbor_id FROM
                          (SELECT q.q_id, x.vec_id AS neighbor_id,
                                  row_number() OVER (PARTITION BY q.q_id
                                    ORDER BY round(${dcos("q.qe", "x.ce")},
                                      6) DESC, x.vec_id) AS rn
                           FROM b x CROSS JOIN probesq q
                           WHERE x.vec_id <> q.q_id) WHERE rn <= 5),
              cnt AS (SELECT q_id, sum(in_single) AS n_cand_single,
                             count(*) AS n_cand_multi
                      FROM pairs GROUP BY 1),
              rec AS (SELECT br.q_id,
                             sum(CASE WHEN t5s.neighbor_id IS NOT NULL
                                      THEN 1 ELSE 0 END) * 2000
                               AS recall_single_bp,
                             sum(CASE WHEN t5m.neighbor_id IS NOT NULL
                                      THEN 1 ELSE 0 END) * 2000
                               AS recall_multi_bp
                      FROM brute br
                      LEFT JOIN t5s ON br.q_id = t5s.q_id
                        AND br.neighbor_id = t5s.neighbor_id
                      LEFT JOIN t5m ON br.q_id = t5m.q_id
                        AND br.neighbor_id = t5m.neighbor_id
                      GROUP BY 1)
         SELECT rec.q_id, CAST(n_cand_single AS BIGINT) AS n_cand_single,
                CAST(n_cand_multi AS BIGINT) AS n_cand_multi,
                CAST(recall_single_bp AS BIGINT) AS recall_single_bp,
                CAST(recall_multi_bp AS BIGINT) AS recall_multi_bp
         FROM rec JOIN cnt ON rec.q_id = cnt.q_id ORDER BY rec.q_id"""
    },

    "q61_ann_lsh" -> {
      val bucket = hyperplanes.zipWithIndex.map { case (w, p) =>
        s"(CASE WHEN ${duckPlaneDot("ce", w)} > 0 THEN ${1 << p} ELSE 0 END)" }
        .mkString("\n                   + ")
      s"""WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ce
                     FROM embeddings),
               b AS (SELECT vec_id, ce,
                     $bucket AS bucket FROM c),
               probes AS (SELECT vec_id AS q_id, ce AS qe, bucket AS qb
                          FROM b WHERE vec_id < 10),
               sims AS (SELECT q_id, x.vec_id AS neighbor_id,
                               round(${dcos("qe", "x.ce")}, 6) AS sim
                        FROM b x JOIN probes p ON x.bucket = p.qb
                                              AND x.vec_id <> p.q_id),
               r AS (SELECT *, row_number() OVER
                       (PARTITION BY q_id ORDER BY sim DESC, neighbor_id) AS rn
                     FROM sims)
          SELECT q_id, neighbor_id, sim, CAST(rn AS INTEGER) AS rn
          FROM r WHERE rn <= 5 ORDER BY q_id, rn"""
    },
    // Brute-force orig×recon cross join: hash-matching proves the banded
    // candidate generation missed nothing (empirical 100% recall).
    "q68_neardup_rerank" ->
      s"""WITH $duckRecon
          SELECT a.vec_id AS va, b.vec_id AS vb,
                 round(${dcos("a.ce", "b.re")}, 6) AS sim
          FROM c a CROSS JOIN recon b
          WHERE round(${dcos("a.ce", "b.re")}, 6) >= 0.999
          ORDER BY va, vb""",
    // exact transitive closure over q68's brute-force pair set (va < vb) —
    // the distributed propagation loop must reach this fixpoint
    "q102_embed_components" ->
      s"""WITH RECURSIVE $duckRecon,
               edges AS (SELECT a.vec_id AS da, b.vec_id AS db
                         FROM c a CROSS JOIN recon b
                         WHERE a.vec_id < b.vec_id
                           AND round(${dcos("a.ce", "b.re")}, 6) >= 0.999),
               syms AS (SELECT da AS a, db AS b FROM edges
                        UNION ALL SELECT db, da FROM edges),
               reach AS (
                 SELECT vec_id AS a, vec_id AS b FROM embeddings
                 UNION
                 SELECT r.a, s.b FROM reach r JOIN syms s ON r.b = s.a
               )
          SELECT a AS vec_id, min(b) AS cluster_id,
                 CAST(a = min(b) AS BOOLEAN) AS is_canonical
          FROM reach GROUP BY a ORDER BY vec_id""",
    "q66_vector_quantize" ->
      """WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ce FROM embeddings),
              e AS (SELECT vec_id, i AS pos, ce[i] AS v FROM c, range(1, 65) t(i)),
              stats AS (SELECT pos, min(v) AS mn, max(v) AS mx FROM e
                        GROUP BY pos HAVING max(v) <> min(v)),
              q AS (SELECT vec_id,
                           CAST(round(((v - mn) / (mx - mn)) * 255) AS INTEGER) AS code
                    FROM e JOIN stats USING (pos))
         SELECT vec_id, CAST(sum(code) AS BIGINT) AS qsum, min(code) AS qmin, max(code) AS qmax
         FROM q GROUP BY vec_id ORDER BY vec_id""",
    "q65_kmeans_iter" ->
      s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ce FROM embeddings),
               c0 AS (SELECT vec_id AS cid, ce AS cc FROM v WHERE vec_id < 4),
               d0 AS (SELECT vec_id, v.ce AS ce, cid,
                             ${duckL2.replace("%V", "v.ce").replace("%C", "cc")} AS d
                      FROM v CROSS JOIN c0),
               a0 AS (SELECT vec_id, ce, cid, d FROM (
                        SELECT *, row_number() OVER
                          (PARTITION BY vec_id ORDER BY d, cid) AS rn FROM d0)
                      WHERE rn = 1),
               c1 AS (SELECT cid, list(cv ORDER BY pos) AS cc FROM (
                        SELECT cid, i AS pos, round(avg(ce[i]), 6) AS cv
                        FROM a0, range(1, 65) t(i) GROUP BY 1, 2)
                      GROUP BY cid),
               d1 AS (SELECT vec_id, v.ce AS ce, cid,
                             ${duckL2.replace("%V", "v.ce").replace("%C", "cc")} AS d
                      FROM v CROSS JOIN c1),
               a1 AS (SELECT vec_id, cid, d FROM (
                        SELECT *, row_number() OVER
                          (PARTITION BY vec_id ORDER BY d, cid) AS rn FROM d1)
                      WHERE rn = 1)
          SELECT cid, count(*) AS n, round(avg(d), 4) AS avg_d
          FROM a1 GROUP BY cid ORDER BY cid""",
    // Same CTE chain as q65 up to the refined assignment (a1 keeps ce),
    // then the within-cluster pair flags. DuckDB replays the identical
    // rounded-distance argmin and rounded-cosine threshold.
    "q111_semdedup" ->
      s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ce FROM embeddings),
               c0 AS (SELECT vec_id AS cid, ce AS cc FROM v WHERE vec_id < 4),
               d0 AS (SELECT vec_id, v.ce AS ce, cid,
                             ${duckL2.replace("%V", "v.ce").replace("%C", "cc")} AS d
                      FROM v CROSS JOIN c0),
               a0 AS (SELECT vec_id, ce, cid, d FROM (
                        SELECT *, row_number() OVER
                          (PARTITION BY vec_id ORDER BY d, cid) AS rn FROM d0)
                      WHERE rn = 1),
               c1 AS (SELECT cid, list(cv ORDER BY pos) AS cc FROM (
                        SELECT cid, i AS pos, round(avg(ce[i]), 6) AS cv
                        FROM a0, range(1, 65) t(i) GROUP BY 1, 2)
                      GROUP BY cid),
               d1 AS (SELECT vec_id, v.ce AS ce, cid,
                             ${duckL2.replace("%V", "v.ce").replace("%C", "cc")} AS d
                      FROM v CROSS JOIN c1),
               a1 AS (SELECT vec_id, ce, cid FROM (
                        SELECT *, row_number() OVER
                          (PARTITION BY vec_id ORDER BY d, cid) AS rn FROM d1)
                      WHERE rn = 1),
               dup AS (SELECT DISTINCT b.vec_id AS vb
                       FROM a1 a JOIN a1 b
                         ON a.cid = b.cid AND a.vec_id < b.vec_id
                       WHERE round(${dcos("a.ce", "b.ce")}, 6) >= 0.4)
          SELECT a1.vec_id, cid, (dup.vb IS NULL) AS keep
          FROM a1 LEFT JOIN dup ON a1.vec_id = dup.vb
          ORDER BY a1.vec_id""",
    "q64_ann_ivf" ->
      s"""WITH c AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS ce
                     FROM embeddings),
               comp AS (SELECT label, i AS pos, round(avg(ce[i]), 6) AS cv
                        FROM c, range(1, 65) t(i) GROUP BY 1, 2),
               cent AS (SELECT label AS c_label, list(cv ORDER BY pos) AS centroid
                        FROM comp GROUP BY label),
               probes AS (SELECT vec_id AS q_id, ce AS qe FROM c WHERE vec_id < 5),
               coarse AS (SELECT q_id, qe, c_label,
                                 round(${dcos("qe", "centroid")}, 6) AS c_sim
                          FROM probes CROSS JOIN cent),
               ranked_c AS (SELECT *, row_number() OVER
                              (PARTITION BY q_id ORDER BY c_sim DESC, c_label) AS crn
                            FROM coarse),
               lists AS (SELECT q_id, qe, c_label AS label FROM ranked_c WHERE crn <= 2),
               fine AS (SELECT q_id, vec_id AS neighbor_id,
                               round(${dcos("qe", "ce")}, 6) AS sim
                        FROM c JOIN lists USING (label)
                        WHERE vec_id <> q_id),
               ranked AS (SELECT *, row_number() OVER
                            (PARTITION BY q_id ORDER BY sim DESC, neighbor_id) AS rn
                          FROM fine)
          SELECT q_id, neighbor_id, sim, CAST(rn AS INTEGER) AS rn
          FROM ranked WHERE rn <= 3 ORDER BY q_id, rn""",
    "q60_knn_brute" ->
      s"""WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ce FROM embeddings),
               q AS (SELECT vec_id AS q_id, ce AS qe FROM c WHERE vec_id < 10),
               sims AS (SELECT q_id, vec_id AS neighbor_id,
                               round(${dcos("qe", "ce")}, 6) AS sim
                        FROM c CROSS JOIN q WHERE vec_id <> q_id),
               ranked AS (SELECT *, row_number() OVER
                            (PARTITION BY q_id ORDER BY sim DESC, neighbor_id) AS rn
                          FROM sims)
          SELECT q_id, neighbor_id, sim, CAST(rn AS INTEGER) AS rn
          FROM ranked WHERE rn <= 5 ORDER BY q_id, rn""",
    "q62_embed_neardup" ->
      s"""WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ce FROM embeddings)
          SELECT a.vec_id AS va, b.vec_id AS vb,
                 round(${dcos("a.ce", "b.ce")}, 6) AS sim
          FROM c a JOIN c b ON a.vec_id < b.vec_id
          WHERE round(${dcos("a.ce", "b.ce")}, 6) >= 0.4
          ORDER BY va, vb""",
    "q63_centroid_dist" ->
      """WITH c AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS ce FROM embeddings),
              comp AS (SELECT label, i AS pos, round(avg(ce[i]), 6) AS cv
                       FROM c, range(1, 65) t(i) GROUP BY 1, 2),
              cent AS (SELECT label, list(cv ORDER BY pos) AS centroid FROM comp GROUP BY label)
         SELECT vec_id, c.label,
                round(sqrt(list_sum(list_transform(range(1, 65),
                  i -> (ce[i] - centroid[i]) * (ce[i] - centroid[i])))), 6) AS dist
         FROM c JOIN cent ON c.label = cent.label
         ORDER BY vec_id""",
    // full replay: distinct query-doc grams → overlap ranks, exact cosine
    // ranks, two-term RRF sum (single IEEE rounding — hash-safe)
    "q152_rrf_fusion" ->
      s"""WITH grams AS (SELECT DISTINCT doc_id,
                                ('0x' || substr(md5(g), 1, 8))::BIGINT AS gh
                         FROM (SELECT doc_id, unnest(${TextOps.duckGrams}) AS g
                               FROM documents)),
               qg AS (SELECT gh FROM grams WHERE doc_id = 0),
               lex AS (SELECT doc_id, count(*) AS overlap
                       FROM grams JOIN qg USING (gh)
                       WHERE doc_id <> 0 GROUP BY doc_id),
               lr AS (SELECT doc_id, row_number() OVER
                        (ORDER BY overlap DESC, doc_id) AS lex_rank
                      FROM lex),
               c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ce
                     FROM embeddings),
               q AS (SELECT ce AS qe FROM c WHERE vec_id = 0),
               sims AS (SELECT vec_id AS doc_id,
                               round(${dcos("qe", "ce")}, 6) AS sim
                        FROM c CROSS JOIN q WHERE vec_id <> 0),
               vr AS (SELECT doc_id, row_number() OVER
                        (ORDER BY sim DESC, doc_id) AS vec_rank
                      FROM sims),
               fused AS (SELECT coalesce(lr.doc_id, vr.doc_id) AS doc_id,
                                lex_rank, vec_rank,
                                coalesce(1::DOUBLE / (60 + lex_rank), 0)
                                  + coalesce(1::DOUBLE / (60 + vec_rank), 0)
                                  AS rrf
                         FROM lr FULL OUTER JOIN vr ON lr.doc_id = vr.doc_id)
          SELECT doc_id, CAST(lex_rank AS INTEGER) AS lex_rank,
                 CAST(vec_rank AS INTEGER) AS vec_rank,
                 round(rrf, 6) AS rrf_r6
          FROM fused ORDER BY rrf DESC, doc_id LIMIT 20""",
    // q119's codebook/code replay + the SDC centroid-pair LUT, PQ-code
    // blocking, per-node top-5 and the mutuality semi-join
    "q153_mutual_knn" ->
      s"""WITH $duckPqCtes,
              lut2 AS (SELECT u.m, u.cid AS ca, v.cid AS cb,
                              CAST(round(${duckL2Sub("u.cc", "v.cc")}
                                         * 1000000) AS BIGINT) AS pdu
                       FROM c1 u JOIN c1 v ON u.m = v.m),
              nv AS (SELECT count(DISTINCT vec_id) AS n FROM codes),
              codes2 AS (SELECT a.vec_id, a.m, a.code,
                                CASE WHEN (SELECT n FROM nv)
                                          > $MutualKnnWideningThreshold
                                     THEN b.code ELSE -1 END AS bk2
                         FROM codes a JOIN codes b
                           ON b.vec_id = a.vec_id
                          AND b.m = (a.m + 1) % 4),
              cand AS (SELECT DISTINCT x.vec_id AS va, y.vec_id AS vb
                       FROM codes2 x JOIN codes2 y
                         ON x.m = y.m AND x.code = y.code
                        AND x.bk2 = y.bk2
                        AND x.vec_id < y.vec_id),
              sdc AS (SELECT va, vb, sum(pdu) AS du
                      FROM cand
                      JOIN codes ax ON ax.vec_id = va
                      JOIN codes bx ON bx.vec_id = vb AND bx.m = ax.m
                      JOIN lut2 ON lut2.m = ax.m AND lut2.ca = ax.code
                               AND lut2.cb = bx.code
                      GROUP BY va, vb),
              dir AS (SELECT va, vb, du FROM sdc
                      UNION ALL SELECT vb, va, du FROM sdc),
              topk AS (SELECT * FROM (SELECT va, vb, du, row_number() OVER
                         (PARTITION BY va ORDER BY du, vb) AS rn
                       FROM dir) WHERE rn <= 5)
         SELECT t.va, t.vb, CAST(t.du AS DOUBLE) / 1000000 AS approx_d
         FROM topk t
         WHERE t.va < t.vb
           AND EXISTS (SELECT 1 FROM topk r
                       WHERE r.va = t.vb AND r.vb = t.va)
         ORDER BY t.va, t.vb""",
    // 8×8-dim sub-vector split, micro-unit dots, max-per-query-token
    // then per-doc sum, top-10
    "q159_late_interaction" ->
      """WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ce
                    FROM embeddings),
              sub AS (SELECT vec_id, CAST(t AS INTEGER) AS t,
                             ce[(CAST(t AS INTEGER) * 8 + 1):(CAST(t AS INTEGER) * 8 + 8)]
                               AS sv
                      FROM c, range(0, 8) r(t)),
              q AS (SELECT t AS qt, sv AS qsv FROM sub WHERE vec_id = 0),
              dots AS (SELECT vec_id, qt,
                              CAST(round(list_inner_product(qsv, sv)
                                         * 1000000) AS BIGINT) AS du
                       FROM sub CROSS JOIN q WHERE vec_id <> 0),
              ms AS (SELECT vec_id, qt, max(du) AS mx FROM dots
                     GROUP BY vec_id, qt)
         SELECT vec_id, CAST(sum(mx) AS BIGINT) AS score_micro
         FROM ms GROUP BY vec_id
         ORDER BY score_micro DESC, vec_id LIMIT 10""",
    // same round-6 scoring, then the rank statistic over per-score counts;
    // the oracle's single global window is topology-free — only the result
    // must match the two-stage bucketed prefix sum
    "q209_auc_roc" ->
      s"""WITH c AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS ce
                     FROM embeddings),
              comp AS (SELECT i AS pos, round(avg(ce[i]), 6) AS cv
                       FROM c, range(1, 65) t(i) WHERE label = 0
                       GROUP BY 1),
              cent AS (SELECT list(cv ORDER BY pos) AS cc FROM comp),
              scored AS (SELECT label, round(${dcos("ce", "cc")}, 6) AS score
                         FROM c CROSS JOIN cent),
              bys AS (SELECT score,
                             sum(CASE WHEN label = 0 THEN 1 ELSE 0 END)
                               AS np,
                             sum(CASE WHEN label <> 0 THEN 1 ELSE 0 END)
                               AS nn
                      FROM scored GROUP BY 1),
              cum AS (SELECT np, nn, coalesce(sum(nn) OVER
                        (ORDER BY score ROWS BETWEEN UNBOUNDED PRECEDING
                         AND 1 PRECEDING), 0) AS cumn
                      FROM bys)
         SELECT CAST(sum(np) AS BIGINT) AS n_pos,
                CAST(sum(nn) AS BIGINT) AS n_neg,
                CAST(sum(np * (2 * cumn + nn)) AS BIGINT) AS u2,
                CAST((2 * sum(np * (2 * cumn + nn)) * 10000
                      + 2 * sum(np) * sum(nn))
                     // (4 * sum(np) * sum(nn)) AS BIGINT) AS auc_bp
         FROM cum""",
    // unrolled greedy traversal: same round-6 squared-L2, same
    // (d DESC, vec_id) argmax tie-break, same (dc, crank) assignment rule
    "q214_kcenter_init" -> {
      def dl2(v: String, c: String) =
        duckL2.replace("%V", v).replace("%C", c)
      s"""WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ce
                     FROM embeddings),
              c1 AS (SELECT ce AS cc FROM c WHERE vec_id = 0),
              d1 AS (SELECT vec_id, ce, ${dl2("ce", "cc")} AS dmin
                     FROM c, c1),
              f2 AS (SELECT vec_id AS cid FROM d1
                     ORDER BY dmin DESC, vec_id LIMIT 1),
              c2 AS (SELECT c.ce AS cc, f2.cid FROM c, f2
                     WHERE c.vec_id = f2.cid),
              d2 AS (SELECT d1.vec_id, d1.ce,
                            least(d1.dmin, ${dl2("d1.ce", "c2.cc")}) AS dmin
                     FROM d1, c2),
              f3 AS (SELECT vec_id AS cid FROM d2
                     ORDER BY dmin DESC, vec_id LIMIT 1),
              c3 AS (SELECT c.ce AS cc, f3.cid FROM c, f3
                     WHERE c.vec_id = f3.cid),
              d3 AS (SELECT d2.vec_id, d2.ce,
                            least(d2.dmin, ${dl2("d2.ce", "c3.cc")}) AS dmin
                     FROM d2, c3),
              f4 AS (SELECT vec_id AS cid FROM d3
                     ORDER BY dmin DESC, vec_id LIMIT 1),
              c4 AS (SELECT c.ce AS cc, f4.cid FROM c, f4
                     WHERE c.vec_id = f4.cid),
              cent AS (SELECT 1 AS crank, 0 AS cid, cc FROM c1
                       UNION ALL SELECT 2, cid, cc FROM c2
                       UNION ALL SELECT 3, cid, cc FROM c3
                       UNION ALL SELECT 4, cid, cc FROM c4),
              dist AS (SELECT v.vec_id, cent.crank,
                              ${dl2("v.ce", "cent.cc")} AS dc
                       FROM c v, cent),
              asg AS (SELECT vec_id, crank, dc FROM
                        (SELECT *, row_number() OVER (PARTITION BY vec_id
                           ORDER BY dc, crank) AS rn FROM dist)
                      WHERE rn = 1)
         SELECT CAST(a.crank AS INTEGER) AS crank, ct.cid AS center_id,
                CAST(count(*) AS BIGINT) AS n_assigned, max(a.dc) AS radius
         FROM asg a JOIN (SELECT crank, cid FROM cent) ct
           ON a.crank = ct.crank
         GROUP BY 1, 2 ORDER BY crank"""
    },
    "q233_retrieval_eval" ->
      s"""WITH c AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS ce
                     FROM embeddings),
               q AS (SELECT vec_id AS q_id, label AS q_label, ce AS qe
                     FROM c WHERE vec_id < 20),
               nl AS (SELECT label, count(*) AS n_label FROM c GROUP BY 1),
               sims AS (SELECT q_id, q_label, vec_id AS neighbor_id, label,
                               round(${dcos("qe", "ce")}, 6) AS sim
                        FROM c CROSS JOIN q WHERE vec_id <> q_id),
               ranked AS (SELECT *, row_number() OVER (PARTITION BY q_id
                            ORDER BY sim DESC, neighbor_id) AS rn
                          FROM sims),
               ag AS (SELECT q_id, q_label,
                             sum(CASE WHEN label = q_label THEN 1 ELSE 0
                                 END) AS n_rel_at10,
                             min(CASE WHEN label = q_label THEN rn END)
                               AS fr
                      FROM ranked WHERE rn <= 10 GROUP BY 1, 2)
          SELECT q_id, q_label, CAST(fr AS BIGINT) AS first_rel_rank,
                 CAST(n_rel_at10 AS BIGINT) AS n_rel_at10,
                 CAST(n_label - 1 AS BIGINT) AS n_rel_total,
                 CAST(CASE WHEN fr IS NULL THEN 0
                      ELSE (2 * 1000000 + fr) // (2 * fr) END AS BIGINT)
                   AS rr_micro,
                 CAST((2 * n_rel_at10 * 10000 + 10) // 20 AS BIGINT)
                   AS p10_bp,
                 CAST((2 * n_rel_at10 * 10000 + (n_label - 1))
                      // (2 * (n_label - 1)) AS BIGINT) AS r10_bp
          FROM ag JOIN nl ON ag.q_label = nl.label
          ORDER BY q_id""",
    "q247_matryoshka_recall" -> {
      val d16 = ("list_inner_product(%A[1:16], %B[1:16]) / " +
        "(sqrt(list_inner_product(%A[1:16], %A[1:16])) * " +
        "sqrt(list_inner_product(%B[1:16], %B[1:16])))")
        .replace("%A", "qe").replace("%B", "ce")
      s"""WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ce
                     FROM embeddings),
               q AS (SELECT vec_id AS q_id, ce AS qe FROM c
                     WHERE vec_id < 10),
               sims AS MATERIALIZED (
                     SELECT q_id, vec_id AS neighbor_id,
                            round(${dcos("qe", "ce")}, 6) AS s64,
                            round($d16, 6) AS s16
                     FROM c CROSS JOIN q WHERE vec_id <> q_id),
               t64 AS (SELECT q_id, neighbor_id FROM
                         (SELECT *, row_number() OVER (PARTITION BY q_id
                            ORDER BY s64 DESC, neighbor_id) AS rn
                          FROM sims)
                       WHERE rn <= 10),
               t16 AS (SELECT q_id, neighbor_id FROM
                         (SELECT *, row_number() OVER (PARTITION BY q_id
                            ORDER BY s16 DESC, neighbor_id) AS rn
                          FROM sims)
                       WHERE rn <= 10),
               ov AS (SELECT t64.q_id, count(*) AS n_overlap
                      FROM t64 JOIN t16 ON t64.q_id = t16.q_id
                                       AND t64.neighbor_id = t16.neighbor_id
                      GROUP BY t64.q_id)
          SELECT q.q_id, CAST(coalesce(n_overlap, 0) AS BIGINT)
                   AS n_overlap,
                 CAST((2 * coalesce(n_overlap, 0) * 10000 + 10) // 20
                   AS BIGINT) AS recall_bp
          FROM q LEFT JOIN ov ON q.q_id = ov.q_id
          ORDER BY q.q_id"""
    },
    "q258_kmeanspar_init" -> {
      def dl2(v: String, c: String) =
        duckL2.replace("%V", v).replace("%C", c)
      s"""WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ce
                     FROM embeddings),
              c0 AS (SELECT ce AS cc FROM c WHERE vec_id = 0),
              dist AS MATERIALIZED (
                     SELECT vec_id, ce,
                            CAST(round(${dl2("ce", "cc")} * 1000000)
                                 AS BIGINT) AS dmi
                     FROM c, c0),
              phi AS (SELECT sum(dmi) AS phi FROM dist),
              cand AS (SELECT vec_id AS cid, ce AS cc, dmi
                         AS sel_d2_micro
                       FROM dist, phi
                       WHERE CAST(('0x' || substr(md5('kp:' || vec_id),
                                    1, 8))::BIGINT % 1000000000
                                  AS HUGEINT) * phi
                             < 8 * CAST(dmi AS HUGEINT) * 1000000000),
              cands AS (SELECT * FROM cand
                        UNION ALL
                        SELECT vec_id, ce, 0 FROM c WHERE vec_id = 0),
              dist2 AS (SELECT v.vec_id, cands.cid,
                               ${dl2("v.ce", "cands.cc")} AS dc
                        FROM c v, cands),
              asg AS (SELECT vec_id, cid FROM
                        (SELECT *, row_number() OVER (PARTITION BY vec_id
                           ORDER BY dc, cid) AS rn FROM dist2)
                      WHERE rn = 1)
         SELECT cands.cid,
                CAST(cands.sel_d2_micro AS BIGINT) AS sel_d2_micro,
                CAST(count(*) AS BIGINT) AS weight
         FROM asg JOIN cands ON asg.cid = cands.cid
         GROUP BY 1, 2 ORDER BY cands.cid"""
    },

    // q394: same label-bounded all-pairs, same two-stage rounding,
    // same row_number tie-break.
    "q394_cluster_medoid" ->
      s"""WITH c AS (SELECT vec_id, label,
                            CAST(embedding AS DOUBLE[]) AS ce
                     FROM embeddings),
               p AS (SELECT a.label, a.vec_id AS va,
                            round(${dcos("a.ce", "b.ce")}, 6) AS sim
                     FROM c a JOIN c b
                       ON a.label = b.label AND a.vec_id <> b.vec_id),
               t AS (SELECT label, va,
                            round(sum(sim), 4) AS total_sim,
                            CAST(count(*) AS BIGINT) AS n_others
                     FROM p GROUP BY 1, 2),
               r AS (SELECT *, row_number() OVER (PARTITION BY label
                       ORDER BY total_sim DESC, va) AS rn
                     FROM t)
          SELECT label, va AS medoid_id, total_sim,
                 CAST(n_others + 1 AS BIGINT) AS n_members
          FROM r WHERE rn = 1 ORDER BY label""",

    // q398: same rounded-cosine ranks; the cohort denominator counts
    // the same same-label set relationally.
    "q398_average_precision" ->
      s"""WITH c AS (SELECT vec_id, label,
                            CAST(embedding AS DOUBLE[]) AS ce
                     FROM embeddings),
               q AS (SELECT vec_id AS q_id, label AS q_label, ce AS qe
                     FROM c WHERE vec_id < 20),
               sims AS (SELECT q_id, q_label, vec_id, label,
                               round(${dcos("qe", "ce")}, 6) AS sim
                        FROM c CROSS JOIN q WHERE vec_id <> q_id),
               r AS (SELECT q_id, q_label, label,
                            row_number() OVER (PARTITION BY q_id
                              ORDER BY sim DESC, vec_id) AS rn
                     FROM sims),
               t AS (SELECT q_id, rn,
                            CASE WHEN label = q_label THEN 1 ELSE 0
                            END AS rel,
                            CAST(sum(CASE WHEN label = q_label THEN 1
                                     ELSE 0 END)
                                 OVER (PARTITION BY q_id ORDER BY rn
                                       ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND CURRENT ROW) AS BIGINT)
                              AS hits
                     FROM r WHERE rn <= 20),
               coh AS (SELECT q.q_id, CAST(count(*) AS BIGINT)
                         AS n_rel
                       FROM q JOIN c ON c.label = q.q_label
                         AND c.vec_id <> q.q_id
                       GROUP BY 1)
          SELECT t.q_id,
                 round(sum(CASE WHEN rel = 1
                           THEN CAST(hits AS DOUBLE) / rn
                           ELSE 0 END) / least(max(coh.n_rel), 20), 6)
                   AS ap20,
                 CAST(max(coh.n_rel) AS BIGINT) AS n_rel
          FROM t JOIN coh ON t.q_id = coh.q_id
          GROUP BY t.q_id ORDER BY t.q_id""",

    // q399: same graded gains, same closed-form ideal DCG.
    "q399_ndcg" ->
      s"""WITH c AS (SELECT vec_id, label,
                            CAST(embedding AS DOUBLE[]) AS ce
                     FROM embeddings),
               q AS (SELECT vec_id AS q_id, label AS q_label, ce AS qe
                     FROM c WHERE vec_id < 20),
               sims AS (SELECT q_id, q_label, vec_id, label,
                               round(${dcos("qe", "ce")}, 6) AS sim
                        FROM c CROSS JOIN q WHERE vec_id <> q_id),
               r AS (SELECT q_id, q_label, label,
                            row_number() OVER (PARTITION BY q_id
                              ORDER BY sim DESC, vec_id) AS rn
                     FROM sims),
               g AS (SELECT q_id, rn,
                            CASE WHEN label = q_label THEN 2
                                 WHEN abs(label - q_label) = 1 THEN 1
                                 ELSE 0 END AS gain
                     FROM r WHERE rn <= 10),
               dcg AS (SELECT q_id,
                              round(sum(gain / log2(rn + 1)), 6)
                                AS dcg
                       FROM g GROUP BY 1),
               coh AS (SELECT q.q_id,
                              CAST(count_if(c.label = q.q_label)
                                   AS BIGINT) AS n2,
                              CAST(count_if(abs(c.label - q.q_label)
                                   = 1) AS BIGINT) AS n1
                       FROM q JOIN c ON c.vec_id <> q.q_id
                       GROUP BY 1),
               ks AS (SELECT CAST(unnest(generate_series(1, 10))
                             AS BIGINT) AS k),
               ideal AS (SELECT coh.q_id,
                                round(sum(CASE WHEN k <= least(n2, 10)
                                          THEN 2
                                          WHEN k <= least(n2 + n1, 10)
                                          THEN 1 ELSE 0 END
                                          / log2(k + 1)), 6) AS idcg
                         FROM coh CROSS JOIN ks GROUP BY 1)
          SELECT d.q_id, d.dcg, i.idcg,
                 round(d.dcg / i.idcg, 6) AS ndcg10
          FROM dcg d JOIN ideal i ON d.q_id = i.q_id
          WHERE i.idcg > 0 ORDER BY d.q_id""",

    // q403: q63's exact centroid assembly, same rounded distances.
    "q403_silhouette" ->
      """WITH c AS (SELECT vec_id, label,
                           CAST(embedding AS DOUBLE[]) AS ce
                    FROM embeddings),
              comp AS (SELECT label, i AS pos, round(avg(ce[i]), 6)
                         AS cv
                       FROM c, range(1, 65) t(i) GROUP BY 1, 2),
              cent AS (SELECT label AS cl, list(cv ORDER BY pos) AS cc
                       FROM comp GROUP BY 1),
              d AS (SELECT c.vec_id, c.label, cent.cl,
                           round(sqrt(list_sum(list_transform(
                             range(1, 65),
                             i -> (ce[i] - cc[i]) * (ce[i] - cc[i])))),
                             6) AS dist
                    FROM c CROSS JOIN cent),
              ab AS (SELECT vec_id, label,
                            min(CASE WHEN cl = label THEN dist END)
                              AS a,
                            min(CASE WHEN cl <> label THEN dist END)
                              AS b
                     FROM d GROUP BY 1, 2),
              sil AS (SELECT label,
                             CAST(round(((b - a) / greatest(a, b))
                                  * 1000000) AS BIGINT) AS sil_e6
                      FROM ab)
         SELECT label, CAST(count(*) AS BIGINT) AS n,
                CAST(sum(sil_e6) AS BIGINT) AS sum_sil_e6,
                CAST(count_if(sil_e6 < 0) AS BIGINT) AS n_misplaced
         FROM sil GROUP BY label ORDER BY label""",

    // q443: q63's centroid recipe + 6-dp distances BEFORE argmin.
    "q443_nearest_centroid_eval" ->
      """WITH c AS (SELECT vec_id, label,
                           CAST(embedding AS DOUBLE[]) AS ce
                    FROM embeddings),
              comp AS (SELECT label AS cl, i AS pos,
                              round(avg(ce[i]), 6) AS cv
                       FROM c, range(1, 65) t(i) GROUP BY 1, 2),
              cent AS (SELECT cl, list(cv ORDER BY pos) AS cc
                       FROM comp GROUP BY cl),
              d AS (SELECT vec_id, label, cl,
                           round(list_sum(list_transform(range(1, 65),
                             i -> (ce[i] - cc[i]) * (ce[i] - cc[i]))),
                             6) AS d2
                    FROM c CROSS JOIN cent),
              pr AS (SELECT vec_id, label, cl,
                            row_number() OVER (PARTITION BY vec_id
                              ORDER BY d2, cl) AS rk
                     FROM d)
         SELECT label, cl AS pred, CAST(count(*) AS BIGINT) AS n
         FROM pr WHERE rk = 1 GROUP BY 1, 2 ORDER BY 1, 2""",

    // q444: per-row integer micro-unit norms, all-BIGINT rollup.
    "q444_embedding_norm_audit" ->
      """WITH r AS (SELECT label,
                           CAST(round(sqrt(list_sum(list_transform(
                             CAST(embedding AS DOUBLE[]),
                             x -> x * x))) * 1000000) AS BIGINT)
                             AS norm_e6,
                           CAST(len(embedding) AS BIGINT) AS dim
                    FROM embeddings)
         SELECT label, CAST(count(*) AS BIGINT) AS n,
                CAST(min(dim) AS BIGINT) AS dim_min,
                CAST(max(dim) AS BIGINT) AS dim_max,
                CAST(min(norm_e6) AS BIGINT) AS norm_min_e6,
                CAST(max(norm_e6) AS BIGINT) AS norm_max_e6,
                CAST((2 * sum(norm_e6) + count(*)) // (2 * count(*))
                  AS BIGINT) AS norm_mean_e6,
                CAST(count_if(norm_e6 = 0) AS BIGINT) AS n_zero_vecs
         FROM r GROUP BY label ORDER BY label""",

    // q445: three md5-sampled fits, one full-corpus eval.
    "q445_learning_curve" ->
      """WITH c AS (SELECT vec_id, label,
                           CAST(embedding AS DOUBLE[]) AS ce,
                           ('0x' || substr(md5('lc#'
                             || CAST(vec_id AS VARCHAR)), 1, 4))
                             ::BIGINT % 100 AS pick
                    FROM embeddings),
              fr AS (SELECT unnest([10, 30, 100]) AS frac),
              comp AS (SELECT frac, label AS cl, i AS pos,
                              round(avg(ce[i]), 6) AS cv
                       FROM c CROSS JOIN fr, range(1, 65) t(i)
                       WHERE pick < frac GROUP BY 1, 2, 3),
              cent AS (SELECT frac, cl, list(cv ORDER BY pos) AS cc
                       FROM comp GROUP BY 1, 2),
              ntr AS (SELECT frac, count(*) AS n_train
                      FROM c CROSS JOIN fr WHERE pick < frac
                      GROUP BY 1),
              dd AS (SELECT cent.frac, vec_id, label, cl,
                            round(list_sum(list_transform(range(1, 65),
                              i -> (ce[i] - cc[i]) * (ce[i] - cc[i]))),
                              6) AS d2
                     FROM c CROSS JOIN cent),
              pr AS (SELECT frac, vec_id, label, cl,
                            row_number() OVER (PARTITION BY frac,
                              vec_id ORDER BY d2, cl) AS rk
                     FROM dd),
              acc AS (SELECT frac, count(*) AS n_eval,
                             sum(CASE WHEN label = cl THEN 1 ELSE 0
                                 END) AS n_correct
                      FROM pr WHERE rk = 1 GROUP BY 1)
         SELECT CAST(acc.frac AS BIGINT) AS frac,
                CAST(n_train AS BIGINT) AS n_train,
                CAST(n_eval AS BIGINT) AS n_eval,
                CAST(n_correct AS BIGINT) AS n_correct,
                CAST((2 * n_correct * 10000 + n_eval) // (2 * n_eval)
                  AS BIGINT) AS acc_bp
         FROM acc JOIN ntr ON acc.frac = ntr.frac
         ORDER BY frac""",

    // q470: same per-row e6 quantization and per-dim identities.
    "q470_embedding_isotropy" ->
      """WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ce
                    FROM embeddings),
              nr AS (SELECT vec_id,
                            sqrt(list_sum(list_transform(ce,
                              x -> x * x))) AS nrm, ce
                     FROM c),
              u AS (SELECT i AS pos,
                           CAST(round(ce[i] / nrm * 1000000)
                             AS BIGINT) AS u
                    FROM nr, range(1, 65) t(i) WHERE nrm > 0),
              dims AS (SELECT pos, count(*) AS n, sum(u) AS su,
                              sum(CAST(u AS HUGEINT) * u) AS suu
                       FROM u GROUP BY 1),
              a AS (SELECT max(n) AS n,
                           sum(CAST(su AS HUGEINT) * su) AS ss,
                           max(CAST(n AS HUGEINT) * suu
                             - CAST(su AS HUGEINT) * su) AS maxvar,
                           sum(CAST(n AS HUGEINT) * suu
                             - CAST(su AS HUGEINT) * su) AS totvar
                    FROM dims)
         SELECT CAST(n AS BIGINT) AS n,
                CASE WHEN ss >= CAST(n AS HUGEINT) * 1000000000000
                THEN CAST((2 * (ss - CAST(n AS HUGEINT)
                       * 1000000000000) + CAST(n AS HUGEINT)
                       * (n - 1) * 1000000)
                     // (2 * CAST(n AS HUGEINT) * (n - 1) * 1000000)
                     AS BIGINT)
                ELSE -CAST((2 * (CAST(n AS HUGEINT) * 1000000000000
                       - ss) + CAST(n AS HUGEINT) * (n - 1)
                       * 1000000)
                     // (2 * CAST(n AS HUGEINT) * (n - 1) * 1000000)
                     AS BIGINT)
                END AS mean_cos_e6,
                CAST((2 * maxvar * 10000 + totvar) // (2 * totvar)
                  AS BIGINT) AS top_dim_share_bp
         FROM a""",

    // q472: i−1 aligns DuckDB's 1-based list index with Spark's
    // 0-based posexplode.
    "q472_robust_scaler_fit" ->
      """WITH u AS (SELECT i - 1 AS pos,
                           CAST(round(ce[i] * 1000000) AS BIGINT)
                             AS q
                    FROM (SELECT CAST(embedding AS DOUBLE[]) AS ce
                          FROM embeddings) c,
                         range(1, 65) t(i)),
              vals AS (SELECT pos, q, count(*) AS cnt FROM u
                       GROUP BY 1, 2),
              cu AS (SELECT pos, q, cnt,
                            sum(cnt) OVER (PARTITION BY pos
                              ORDER BY q ROWS BETWEEN UNBOUNDED
                              PRECEDING AND CURRENT ROW) AS cum,
                            sum(cnt) OVER (PARTITION BY pos) AS n
                     FROM vals),
              a AS (SELECT pos, max(n) AS n,
                           min(CASE WHEN cum >= (n + 3) // 4
                               THEN q END) AS p25_e6,
                           min(CASE WHEN cum >= (n + 1) // 2
                               THEN q END) AS p50_e6,
                           min(CASE WHEN cum >= (3 * n + 3) // 4
                               THEN q END) AS p75_e6
                    FROM cu GROUP BY 1)
         SELECT CAST(pos AS BIGINT) AS pos, CAST(n AS BIGINT) AS n,
                CAST(p25_e6 AS BIGINT) AS p25_e6,
                CAST(p50_e6 AS BIGINT) AS p50_e6,
                CAST(p75_e6 AS BIGINT) AS p75_e6,
                CAST(p75_e6 - p25_e6 AS BIGINT) AS iqr_e6
         FROM a ORDER BY pos""",
  )
}
