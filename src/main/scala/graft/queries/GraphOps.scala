package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed graph primitives shared by the dedup-clustering queries
  * (q101 over banded-simhash edges, q102 over banded-embedding edges).
  * The reference has no graph surface at all; this exists because turning
  * pairwise near-dup HITS into per-document CANONICAL assignments — the
  * actual fuzzy-dedup unit of work — requires transitive closure over the
  * candidate edges, whatever similarity source produced them. */
object GraphOps {

  /** Pointer jumping makes convergence O(log diameter), so 30 rounds covers
    * graphs of diameter ~2^30; hitting the cap is a pathology, not scale. */
  private val MaxRounds = 30

  /** Session conf selecting the loop's lineage-truncation mode.
    * Default (unset/false) = `localCheckpoint()`: blocks pinned to executor
    * storage — fastest, right for local[32], but on a real cluster a lost
    * executor makes the pinned lineage unrecoverable mid-loop. Set to
    * `true` for cluster deployments: rounds go through reliable
    * `checkpoint()` to the fault-tolerant checkpoint dir
    * (`sc.setCheckpointDir` — HDFS/S3 in production), trading one
    * write+read of the label frame per round for executor-loss survival.
    * The label frame is the SMALL side of the loop (edges are checkpointed
    * once, labels every round), so the per-round cost is proportional to
    * |nodes in an edge|, not |edges|. */
  private[graft] val ReliableCheckpointConf = "spark.graft.cc.reliableCheckpoint"

  /** One round's lineage cut, honoring [[ReliableCheckpointConf]]. Both
    * paths are EAGER and execute the dataset's own queryExecution, so the
    * `observe(...)` convergence metric below populates identically. */
  private def cut(df: DataFrame): DataFrame = {
    val ss = df.sparkSession
    val reliable =
      ss.conf.getOption(ReliableCheckpointConf).exists(_.toBoolean)
    if (!reliable) df.localCheckpoint()
    else {
      if (ss.sparkContext.getCheckpointDir.isEmpty)
        throw new IllegalStateException(
          s"$ReliableCheckpointConf=true requires a checkpoint dir: call " +
            "spark.sparkContext.setCheckpointDir(<fault-tolerant path>) " +
            "(HDFS/S3 on a cluster) before running connectedComponents")
      df.checkpoint()
    }
  }

  /** Distributed connected components over an undirected edge list
    * (`da`, `db`) → (`doc_id`, `cluster_id` = component-min id), covering
    * only nodes that appear in an edge (singletons can never change label,
    * so the loop's frames stay |2·edges| wide, not |corpus| — at 100 TB
    * near-dup members are a tiny corpus fraction).
    *
    * Hash-min label propagation with pointer jumping, FUSED: each round
    * every node takes `min(own label, min over neighbour labels, label of
    * its own label-node)` in ONE plan — the neighbour term is a keyed join
    * + groupBy-min, the jump term (the Shiloach–Vishkin shortcut, cutting
    * convergence from O(diameter) to O(log diameter) rounds) is a second
    * keyed self-join against the SAME checkpointed label frame. r5 ran
    * propagate and jump as two separately-checkpointed steps = 3 jobs per
    * round; r6 fused them into one checkpoint + one convergence count = 2;
    * r8 rides the convergence count on the checkpoint job as an observed
    * metric (see the loop) = ONE job per round,
    * and all variants converge in 7 rounds on the sf0.1 chain-heavy
    * ham≤6 graph (jumping on the pre-propagation label lands one step
    * behind jumping on cid1, but the fixpoint test absorbs it). Measured
    * isolated at sf0.1 (BenchSome, warm-up + median-of-3, r7): q101
    * 3.93 s with the r6 fused code, 3.63 s after sizing the edge
    * repartition below (r6's in-comment "4.2 → 2.9 s" claim was a warm
    * single-shot that the driver bench never reproduced — retracted; the
    * structural win of 3 jobs/round → 2 stands, the headline number is
    * this committed median). r8's observed-metric convergence (one action
    * per round) measured 3.9-4.4 s isolated on a visibly loaded host
    * (ratio 11-13× the synthetic calibration run; the same session timed
    * untouched q32 at 1.3-1.6× its calm-host median) — within noise of
    * r7, NOT claimed as a local win: the count job it removes reads an
    * already-checkpointed frame in ~50 ms locally. The win is structural:
    * one fewer driver→cluster round-trip per round, which is real money
    * on a 1000-executor cluster where job submission + scheduling is
    * milliseconds-to-seconds, and AQE already turns the remaining action
    * into its stage-wise jobs either way. The actual q101 wall-clock win
    * came from elsewhere: swapping the banded-simhash EDGE BUILD onto the
    * native SimHash64 kernel took the committed isolated median to
    * 2.99 s (BenchSome, calm host, ratio 7.9× cal) — the loop's fixed
    * per-round cost was never the fat part. The symmetrized edge frame is
    * repartitioned on its probe key `db` BEFORE its one-time checkpoint:
    * localCheckpoint preserves outputPartitioning, so the per-round join
    * re-shuffles only the (much smaller) label frame, not the edges —
    * exactly the layout a 100 TB run would pin with a bucketed edge table.
    * Every step is a keyed shuffle — fully distributed; the driver only
    * steers the convergence loop, and the 30-round cap bounds pathological
    * chains (the canonical GraphX/Pregel trade-off). localCheckpoint()
    * truncates lineage each round — without it the plan doubles per
    * iteration and Catalyst re-analysis dominates.
    *
    * Correctness: at the fixpoint (no label changed in a full round)
    * every edge (u,v) satisfies label(u) = label(v) — `least` forces
    * label(u) ≤ label(v) and, symmetrically, label(v) ≤ label(u) — so
    * labels are constant per component, and equal the component min
    * because the min node's own label can never decrease below itself.
    * Pointer jumping only substitutes a label by that label-node's label,
    * which stays inside the component, so it accelerates without changing
    * the fixpoint. The q101/q102 oracles (exact recursive-CTE closures)
    * pin this end-to-end. */
  private[graft] def connectedComponents(edges: DataFrame): DataFrame = {
    // Size the edge layout from the data, not the session default: near-dup
    // edges are a tiny corpus fraction, and shuffle-partition-count
    // near-empty partitions would pay that many task launches per join per
    // round. Target ~100k symmetrized edges per partition, capped at the
    // session default (so a genuinely huge edge frame still spreads).
    // Both callers localCheckpoint `edges` first, so this count() reads
    // materialized data rather than re-running the edge pipeline.
    val defaultParts =
      edges.sparkSession.sessionState.conf.numShufflePartitions
    val parts = math.max(2, math.min(defaultParts.toLong,
      edges.count() * 2 / 100000L + 1).toInt)
    val sym = edges
      .union(edges.select(col("db").as("da"), col("da").as("db")))
      .repartition(parts, col("db"))
      .transform(cut)
    // seed fuses round 0: label = min(self, direct neighbours)
    var labels = sym.groupBy(col("da").as("doc_id"))
      .agg(min("db").as("nbr_min"))
      .select(col("doc_id"),
        least(col("doc_id"), col("nbr_min")).as("cluster_id"))
      .transform(cut)
    val debug = sys.env.contains("GRAFT_CC_DEBUG")
    // Debug-only job counter proving the one-action-per-round claim below:
    // GRAFT_CC_DEBUG prints the job-start delta per round (listener bus is
    // async, so a boundary job can land a line late, but steady-state
    // rounds print jobs=1). It is removed once the loop ends.
    val jobCount = new java.util.concurrent.atomic.AtomicInteger
    val sc = edges.sparkSession.sparkContext
    val counter = Option.when(debug)(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobCount.incrementAndGet(); ()
        }
      })
    counter.foreach(sc.addSparkListener)
    var changed = 1L; var iters = 0
    try while (changed > 0 && iters < MaxRounds) {
      // ONE action per round: the convergence count rides the checkpoint
      // job as an observed metric (CollectMetrics accumulates per task —
      // zero extra jobs, zero extra shuffles) instead of r6/r7's separate
      // `next.filter(...).count()`, which ran a whole second job per round
      // over the checkpointed frame. localCheckpoint() executes this
      // dataset's own queryExecution, so the metric is read back
      // SYNCHRONOUSLY from the executed plan's accumulators
      // (observedMetrics) — not via Observation.get, which would block on
      // the async listener bus once per round.
      val jobsBefore = jobCount.get()
      // (r8 experiment, rejected: a SECOND pointer jump per round — one
      // more label-sized join — did not reduce the round count on either
      // the spec graphs or the sf0.1 corpus: the slow tail is nbrMin
      // propagation walking a chain one hop per round, which label-jumps
      // cannot shortcut. The O(log n) fix would be Large-Star/Small-Star
      // edge restructuring, which rewrites the EDGE frame every round —
      // strictly more expensive at this edge:label ratio.)
      //
      // r16 (§2.6): TWO propagation hops per checkpointed round. r8
      // established the binding constraint is propagation walking a chain
      // one hop per round — so the fix is more HOPS per round, not more
      // jumps. Hop 1 is the old nbr-min + least; hop 2 repeats it over
      // hop 1's labels, in the SAME plan, before the single jump and the
      // single checkpoint. The hop-1 subtree feeds two consumers (the
      // hop-2 join probe and the final least) — its exchanges dedup via
      // ReusedExchange; only the cheap post-exchange projections replay.
      // Per round: 2× the sym-join work, half the rounds ⇒ the same total
      // propagation joins, but HALF the checkpoints, jump joins, and
      // driver round-trips. Fixpoint unchanged: stable under a 2-hop
      // round implies stable under 1 hop (the 2-hop min is ≤ the 1-hop
      // min ≤ old), so the exit condition still certifies label(u) =
      // label(v) on every edge = the exact component-min closure the
      // q101/q102 oracles replay.
      val nbrMin1 = sym.join(labels, sym("db") === labels("doc_id"))
        .groupBy(sym("da").as("n1_id")).agg(min("cluster_id").as("m1"))
      val hop1 = labels
        .join(nbrMin1, labels("doc_id") === col("n1_id"), "left")
        .select(labels("doc_id").as("h_id"),
          labels("cluster_id").as("old_cid"),
          least(col("cluster_id"), coalesce(col("m1"), col("cluster_id")))
            .as("h_cid"))
      val nbrMin = sym.join(hop1, sym("db") === col("h_id"))
        .groupBy(sym("da").as("nb_id")).agg(min("h_cid").as("nbr_min"))
      val lookup = labels
        .select(col("doc_id").as("j_id"), col("cluster_id").as("j_cid"))
      val next = hop1
        .join(nbrMin, col("h_id") === nbrMin("nb_id"), "left")
        .join(lookup, col("h_cid") === col("j_id"), "left")
        .select(col("h_id").as("doc_id"), col("old_cid"),
          least(least(col("h_cid"),
              coalesce(col("nbr_min"), col("h_cid"))),
            coalesce(col("j_cid"), col("h_cid"))).as("new_cid"))
        .observe("cc_changed", sum(when(col("new_cid") =!= col("old_cid"), 1L)
          .otherwise(0L)).as("changed"))
      val cp = cut(next)
      changed = next.queryExecution.observedMetrics.get("cc_changed") match {
        case Some(row) if !row.isNullAt(0) => row.getLong(0)
        // present row, NULL sum = the observe saw zero rows (empty label
        // frame): genuinely no changes
        case Some(_) => 0L
        // metric ABSENT = the checkpoint no longer executes this
        // dataset's own queryExecution (Spark internals drift). Treating
        // it as 0 would exit after round 1 and silently return
        // non-converged labels — fail loudly instead.
        case None => throw new IllegalStateException(
          "connectedComponents: observed metric 'cc_changed' missing " +
            "from the executed plan — localCheckpoint() no longer runs " +
            "the observed queryExecution; convergence cannot be read")
      }
      labels = cp.select(col("doc_id"), col("new_cid").as("cluster_id"))
      iters += 1
      if (debug)
        System.err.println(s"[cc] round $iters changed=$changed " +
          s"jobs=${jobCount.get() - jobsBefore}")
    } finally counter.foreach(sc.removeSparkListener)
    // The 30-round cap bounds pathological chains; hitting it means the
    // returned labels are NOT a converged fixpoint — surface that loudly
    // instead of silently emitting wrong cluster ids (callers' oracles
    // would catch it, but a production user has no oracle).
    if (changed > 0)
      System.err.println(s"[graft.cc] WARNING: hit the $MaxRounds-round " +
        s"cap with $changed labels still changing — labels are not " +
        "converged; component ids may be split")
    labels
  }
}
