package graft.engine

import org.apache.spark.sql.SparkSession

/** The one way the engine builds an internal child session: a query that
  * needs its own runtime conf (shuffle partitions, join thresholds, the
  * state-store provider) clones the caller's session instead of mutating
  * it, so a query running concurrently on the parent never sees the
  * temporary value and there is nothing to restore. */
object Sessions {

  /** `s.newSession()` (shared SparkContext and persistent catalog, its own
    * runtime conf and temp views) with per-session artifact isolation OFF,
    * `nanosAsLong` re-pinned (a new session starts from builder-time
    * defaults; [[graft.Tables.ld]] reads nanos parquet through it), then
    * `confs` applied in order.
    *
    * Why isolation is off. With it on (Spark's default), every session owns
    * a `JobArtifactState` keyed by its `sessionUUID`; the executor builds an
    * `IsolatedSessionState` with a class loader of its own for each new
    * UUID, and `CodeGenerator.compile` caches generated classes by
    * (thread context class loader, source). So every class compiled inside
    * a task of a fresh child — and of the clone `StreamExecution` makes of
    * it for each stream query — missed the cache, and identical generated
    * source was compiled again on every run. With isolation off the tasks
    * run under the executor's default class loader and the cache hits. The
    * engine adds no jars, files or artifacts to any session, so there is
    * nothing to isolate; parent sessions keep Spark's default.
    *
    * Why it is set FIRST, before anything else touches the child. In Spark
    * 4.1.2 `ArtifactManager.state` is a lazy val over another lazy val,
    * `sessionIsolated`, which reads
    * `session.conf.get(SQLConf.ARTIFACTS_SESSION_ISOLATION_ENABLED.key)` on
    * its first access (`state$lzycompute` → `sessionIsolated$lzycompute`
    * in the bytecode); with `false` it yields a null state and tasks carry
    * no session artifacts. The manager itself is the lazy
    * `SessionState.artifactManager`, and its constructor reads `state` at
    * once (for its `ArtifactStateForCleanup`), so the first use of the
    * child that reaches the manager freezes whatever the conf says then.
    * `SparkSession.cloneSession` copies the conf before it clones the
    * manager, so each stream's per-query clone starts with isolation off
    * too. */
  def child(s: SparkSession, confs: (String, String)*): SparkSession = {
    val ss = s.newSession()
    ss.conf.set("spark.sql.artifact.isolation.enabled", "false")
    ss.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    confs.foreach { case (k, v) => ss.conf.set(k, v) }
    ss
  }
}
