package graft

import graft.plans.Checkpoints
import graft.plans.Checkpoints._
import graft.tables.Tables
import org.apache.spark.sql.functions._

class CheckpointsSpec extends SparkSpec {

  private def withFlag[A](value: Option[String], dir: Option[String])(body: => A): A = {
    val conf = spark.conf
    try {
      value.foreach(conf.set(Checkpoints.FlagKey, _))
      dir.foreach(conf.set(Checkpoints.DirKey, _))
      body
    } finally {
      conf.unset(Checkpoints.FlagKey)
      conf.unset(Checkpoints.DirKey)
    }
  }

  test("default mode is a local checkpoint (no files, same rows)") {
    val df = Tables.documents(spark, sf0001).select(col("doc_id"))
    val out = withFlag(None, None)(df.stableCheckpoint())
    assert(out.count() == df.count())
    // lineage is truncated to an RDD scan — the memoization contract
    assert(out.queryExecution.analyzed.collectLeaves()
      .forall(_.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD]))
  }

  // registered BEFORE the happy-path test: that one sets the context's
  // checkpoint dir, after which this failure mode can no longer trip
  test("reliable mode without a directory fails loudly instead of degrading") {
    assume(spark.sparkContext.getCheckpointDir.isEmpty)
    val df = Tables.documents(spark, sf0001).select(col("doc_id"))
    val e = intercept[IllegalStateException] {
      withFlag(Some("true"), None)(df.stableCheckpoint())
    }
    assert(e.getMessage.contains(Checkpoints.DirKey))
  }

  test("reliable mode is the default exactly when the master is non-local") {
    // local masters (the bench/verify single-JVM loop) keep local blocks
    assert(!Checkpoints.wantsReliable(None, "local"))
    assert(!Checkpoints.wantsReliable(None, "local[32]"))
    assert(!Checkpoints.wantsReliable(None, "local[4,2]"))
    assert(!Checkpoints.wantsReliable(None, "local-cluster[2,1,1024]"))
    // any real cluster master engages reliable checkpoints by default —
    // un-replicated localCheckpoint blocks die with their executor there
    assert(Checkpoints.wantsReliable(None, "spark://host:7077"))
    assert(Checkpoints.wantsReliable(None, "yarn"))
    assert(Checkpoints.wantsReliable(None, "k8s://https://host:443"))
    // an explicit flag always wins, both ways
    assert(Checkpoints.wantsReliable(Some("true"), "local[32]"))
    assert(!Checkpoints.wantsReliable(Some("false"), "yarn"))
  }

  test("off-local without a checkpoint dir falls back to local blocks; an explicit flag still throws") {
    import Checkpoints.{Local, LocalWithoutDir, Reliable, modeFor}
    // the off-local default with no directory anywhere degrades, not throws
    assert(modeFor(None, "yarn", None, None) == LocalWithoutDir)
    assert(modeFor(None, "spark://host:7077", None, None) == LocalWithoutDir)
    // a directory from the session or the context engages reliable files
    assert(modeFor(None, "yarn", Some("/ckpt"), None) == Reliable(Some("/ckpt")))
    assert(modeFor(None, "yarn", Some("/ckpt"), Some("/ctx")) == Reliable(None))
    assert(modeFor(Some("true"), "local[4]", None, Some("/ctx")) == Reliable(None))
    // local masters and an explicit false keep local blocks
    assert(modeFor(None, "local[4]", None, None) == Local)
    assert(modeFor(Some("false"), "yarn", None, None) == Local)
    // asking for reliable checkpoints explicitly without a directory is loud
    val e = intercept[IllegalStateException](modeFor(Some("true"), "yarn", None, None))
    assert(e.getMessage.contains(Checkpoints.DirKey))
  }

  test("reliable mode writes replicated checkpoint files and preserves results") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt_").toString
    val df = Tables.documents(spark, sf0001)
      .groupBy(col("lang")).agg(count(lit(1)).as("n"))
    val local = df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val out = withFlag(Some("true"), Some(dir))(df.stableCheckpoint())
    val reliable = out.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(reliable == local, "checkpoint mode must not change results")
    // the reliable path must actually have materialized files under the dir
    def files(p: java.io.File): Seq[java.io.File] =
      Option(p.listFiles()).toSeq.flatten.flatMap(f =>
        if (f.isDirectory) files(f) else Seq(f))
    assert(files(new java.io.File(dir)).nonEmpty,
      "reliable checkpoint produced no files — it silently stayed local")
  }

}
