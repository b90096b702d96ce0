package graft.lake.iceberg

/** Optimistic-concurrency race against the REAL [[IcebergTable]] commit
  * path — the executed counterpart of the reference's concurrent-writer
  * study (`poc/test_concurrent_writers.py:57` OptimisticLockManager:
  * threads + conflict detection + retry loop), upgraded from the modeled
  * commit log (`graft.lake.OccBench`) to the actual version-file CAS:
  * every attempt reads the metadata at its version, builds the next
  * snapshot, and tries to publish version+1 by an exclusive hard link —
  * the one [[IcebergTable.commit]] transaction every table change runs.
  * [[race]] drives single attempts ([[IcebergTable.tryCommitTouch]] =
  * one [[IcebergTable.commitAttempt]]) and counts each lost CAS itself;
  * [[dataRace]] races whole appends and sums the conflicts their commits
  * retried through.
  *
  * Correctness is asserted structurally, not statistically: after the
  * race the snapshot log must contain EXACTLY writers × commitsPerWriter
  * new snapshots with distinct contiguous ids (no lost updates, no
  * duplicates), and the metadata version chain must be gap-free.
  *
  * Scale note: the protocol is per-TABLE serial by design (one metadata
  * pointer — the same bottleneck every real Iceberg deployment has), so
  * the measured commits/sec is the single-table commit ceiling; across
  * tables commits are independent. */
object IcebergOcc {

  final case class RaceResult(writers: Int, commitsPerWriter: Int, commits: Int,
                              conflicts: Int, sec: Double,
                              snapshotsBefore: Int, snapshotsAfter: Int,
                              newIdsDistinct: Int, idsContiguous: Boolean)

  /** Race `writers` threads, each committing `commitsPerWriter` touch
    * snapshots, over an existing table at `location`. */
  def race(location: String, writers: Int, commitsPerWriter: Int): RaceResult = {
    val before = IcebergTable.readMetadata(location)
    val conflicts = new java.util.concurrent.atomic.AtomicInteger(0)
    val committed = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    val t0 = System.nanoTime()
    val threads = (1 to writers).map { _ =>
      new Thread(() => {
        var done = 0
        while (done < commitsPerWriter) {
          IcebergTable.tryCommitTouch(location) match {
            case Some(id) => committed.add(id); done += 1
            case None     => conflicts.incrementAndGet()
          }
        }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    val sec = (System.nanoTime() - t0) / 1e9
    val after = IcebergTable.readMetadata(location)
    val beforeIds = before.snapshots.map(_.id).toSet
    val newIds = after.snapshots.map(_.id).filterNot(beforeIds).sorted
    val contiguous = newIds.nonEmpty && newIds.distinct.size == newIds.size &&
      newIds.last - newIds.head + 1 == newIds.size
    // commits = MEASURED successes (a thread killed by an unexpected
    // protocol exception under-commits — the assumed writers × per-writer
    // product would mask exactly the failure this harness exists to catch)
    RaceResult(writers, commitsPerWriter, committed.size(),
      conflicts.get(), sec, before.snapshots.size, after.snapshots.size,
      newIds.distinct.size, contiguous)
  }

  final case class DataRaceResult(writers: Int, commits: Int, conflicts: Int, sec: Double,
                                  rowsExpected: Long, rowsActual: Long,
                                  idsContiguous: Boolean)

  /** Race `writers` threads each committing ONE real DATA append of a
    * disjoint slice ([[IcebergTable.appendOcc]] — parquet written once
    * before the commit transaction, manifests and metadata rebuilt per
    * attempt against the CAS). The no-lost-update proof is at DATA grain: the final table
    * must hold every slice's rows exactly once. */
  def dataRace(spark: org.apache.spark.sql.SparkSession, writers: Int): DataRaceResult = {
    import org.apache.spark.sql.functions._
    val loc = java.nio.file.Files.createTempDirectory("graft_iceberg_docc_").toString
    def slice(i: Int) = spark.range(100)
      .select((col("id") * writers + i).as("l_orderkey"),
        lit("1997-01-15").cast("timestamp").as("l_shipdate"),
        lit(1.0).as("l_quantity"))
    IcebergTable.append(spark, slice(0), loc)
    val conflicts = new java.util.concurrent.atomic.AtomicInteger(0)
    val committed = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    val t0 = System.nanoTime()
    val threads = (1 to writers).map { i =>
      new Thread(() => {
        val (id, retries) = IcebergTable.appendOcc(spark, slice(i), loc)
        committed.add(id)
        conflicts.addAndGet(retries)
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    val sec = (System.nanoTime() - t0) / 1e9
    val meta = IcebergTable.readMetadata(loc)
    val ids = meta.snapshots.map(_.id).sorted
    val contiguous = ids == (ids.head to ids.last)
    DataRaceResult(writers, committed.size(), conflicts.get(), sec,
      100L * (writers + 1), IcebergTable.read(spark, loc).count(), contiguous)
  }

  /** Bench ladder over a fresh throwaway table: 2/4/8 writers × 5 commits.
    * The fixture table is one tiny single-month append — commit cost is
    * metadata-grain by construction, so the ladder measures the PROTOCOL
    * (CAS + retry), not Spark write throughput. */
  def ladder(spark: org.apache.spark.sql.SparkSession): Seq[RaceResult] = {
    import org.apache.spark.sql.functions._
    val loc = java.nio.file.Files.createTempDirectory("graft_iceberg_occ_").toString
    val seed = spark.range(100)
      .select(col("id").as("l_orderkey"),
        lit("1997-01-15").cast("timestamp").as("l_shipdate"),
        lit(1.0).as("l_quantity"))
    IcebergTable.append(spark, seed, loc)
    Seq(2, 4, 8).map(w => race(loc, w, 5))
  }
}
