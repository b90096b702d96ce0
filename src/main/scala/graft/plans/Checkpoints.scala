package graft.plans

import org.apache.spark.sql.Dataset

/** One seam for every lineage-truncating checkpoint in the operator layer.
  *
  * Default mode is `localCheckpoint(eager = true)`: blocks live on the
  * executors that computed them — free of any filesystem dependency, ideal
  * for the single-JVM Bench/Verify/job-server loop, but NOT replicated, so
  * on a real cluster an executor loss invalidates the artifact and every
  * consumer fails with missing-block errors rather than recomputing.
  *
  * Setting `spark.graft.reliableCheckpoint=true` routes the same call sites
  * through `Dataset.checkpoint(eager = true)` — files under the context's
  * checkpoint directory (HDFS / object store on a cluster), which survive
  * executor churn. The directory comes from an already-configured
  * `SparkContext.setCheckpointDir`, or from `spark.graft.checkpointDir` at
  * first use. Asking for reliable checkpoints explicitly with neither set
  * is an error (silently falling back to local blocks would defeat the
  * point of the flag); the off-local DEFAULT with neither set logs a
  * warning and keeps local blocks, so a cluster deployment that never
  * configured a directory still runs (see [[modeFor]]).
  *
  * The two modes produce byte-identical DataFrames — only the storage of
  * the truncation point differs — so oracle hashes and memoized reuse
  * (`plans.Memo`) are unaffected by the flag.
  */
object Checkpoints {
  /** Session conf key: "true" → reliable (replicated) checkpoints,
    * "false" → local blocks. UNSET → reliable exactly when the master is
    * not local (see [[wantsReliable]]): on a real cluster an un-replicated
    * localCheckpoint block dies with its executor and every consumer fails
    * with missing-block errors instead of recomputing, so local blocks are
    * only the right default for the single-JVM bench/verify loop. */
  val FlagKey = "spark.graft.reliableCheckpoint"
  /** Session conf key: checkpoint directory, applied lazily at first use
    * when the context has none set. */
  val DirKey = "spark.graft.checkpointDir"

  /** Mode decision, factored out so the non-local default is testable
    * without starting a cluster: an explicit [[FlagKey]] wins; otherwise
    * reliable iff the master string is non-local (`local`, `local[n]`,
    * `local[n,f]` and `local-cluster[...]` keep local blocks — the last
    * shares the lifetime/failure story of a single test JVM). */
  def wantsReliable(flag: Option[String], master: String): Boolean =
    flag.map(_.toBoolean).getOrElse(!master.startsWith("local"))

  /** Where a checkpoint's blocks go. */
  sealed trait Mode
  /** `localCheckpoint`: blocks on the executors that computed them. */
  case object Local extends Mode
  /** Local blocks although reliable ones were the default: the master is
    * not local but no checkpoint directory is configured. */
  case object LocalWithoutDir extends Mode
  /** Reliable checkpoint files; `setDir` is the directory to set on the
    * context first, when it has none. */
  final case class Reliable(setDir: Option[String]) extends Mode

  /** The checkpoint decision from the session's flag and directory, the
    * master string and the context's directory — pure, so every branch is
    * testable without a cluster. An explicit [[FlagKey]]`=true` without a
    * directory throws; the off-local default without one degrades to
    * [[LocalWithoutDir]]. */
  def modeFor(flag: Option[String], master: String, configuredDir: Option[String],
              contextDir: Option[String]): Mode =
    if (!wantsReliable(flag, master)) Local
    else if (contextDir.isDefined) Reliable(None)
    else if (configuredDir.isDefined) Reliable(configuredDir)
    else if (flag.isEmpty) LocalWithoutDir
    else throw new IllegalStateException(
      s"reliable checkpoints ($FlagKey=true) need a checkpoint dir: " +
        s"call setCheckpointDir or set $DirKey")

  private val warnedWithoutDir = new java.util.concurrent.atomic.AtomicBoolean(false)

  implicit class StableCheckpoint[T](private val ds: Dataset[T]) extends AnyVal {
    /** Eager lineage-truncating checkpoint honoring [[FlagKey]], reliable
      * by default off-local. The two modes produce byte-identical
      * DataFrames — only where the truncated blocks live differs. */
    def stableCheckpoint(): Dataset[T] = {
      val spark = ds.sparkSession
      val sc = spark.sparkContext
      modeFor(spark.conf.getOption(FlagKey), sc.master, spark.conf.getOption(DirKey),
          sc.getCheckpointDir) match {
        case Local => ds.localCheckpoint(eager = true)
        case LocalWithoutDir =>
          if (warnedWithoutDir.compareAndSet(false, true))
            org.slf4j.LoggerFactory.getLogger(Checkpoints.getClass).warn(
              s"master ${sc.master} is not local but no checkpoint directory is set " +
                s"(setCheckpointDir or $DirKey): checkpoints stay local blocks, " +
                "which are lost with their executor")
          ds.localCheckpoint(eager = true)
        case Reliable(setDir) =>
          setDir.foreach(sc.setCheckpointDir)
          ds.checkpoint(eager = true)
      }
    }

    /** [[stableCheckpoint]] unless the dataset is already a (possibly
      * trivially projected/aliased) checkpoint artifact — the idempotent
      * form for infrastructure seams whose callers sometimes pre-cut the
      * lineage themselves (a second cut would duplicate the blocks for
      * no plan benefit). */
    def stableCheckpointOnce(): Dataset[T] =
      if (Checkpoints.isTrivialOverCut(ds)) ds else stableCheckpoint()
  }

  /** True when the dataset is a checkpoint artifact under at most cheap
    * deterministic projections/aliases — i.e. re-executing it per consumer
    * only re-reads materialized blocks plus a narrow projection, so a
    * further lineage cut (or an iteration-seam checkpoint) buys nothing.
    * A Project carrying non-deterministic expressions does NOT count: it
    * would re-execute (and diverge) per consuming plan branch. */
  def isTrivialOverCut(ds: Dataset[_]): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, SubqueryAlias, Union}
    import org.apache.spark.sql.execution.LogicalRDD
    def isCut(p: LogicalPlan): Boolean = p match {
      case _: LogicalRDD => true
      case pr: Project if pr.projectList.forall(_.deterministic) => isCut(pr.child)
      case a: SubqueryAlias => isCut(a.child)
      case u: Union => u.children.forall(isCut)
      case _ => false
    }
    isCut(ds.queryExecution.analyzed)
  }
}
