package graft

import java.nio.file.Files

import graft.lake.iceberg.{IcebergTable, Puffin, RoaringDv}
import graft.tables.Tables
import org.apache.spark.sql.functions._

/** Iceberg v3 deletion vectors: RoaringFormatSpec serialization invariants
  * (all three container types, both cookie forms), the deletion-vector-v1
  * blob envelope (length/magic/CRC framing, portable64 wrapper), and the
  * end-to-end commit→Puffin→manifest→merge-on-read protocol. */
class RoaringDvSpec extends SparkSpec {

  private def roundtrip(ps: Array[Long]): Unit = {
    val bytes = RoaringDv.serialize32(ps)
    assert(bytes.length == RoaringDv.serialized32Size(ps),
      "serialized length must equal the size formula the oracle recomputes")
    val (back, consumed) = RoaringDv.deserialize32(bytes)
    assert(consumed == bytes.length)
    assert(back.toSeq == ps.sorted.distinct.toSeq)
  }

  test("roaring32: array/bitmap/run shapes roundtrip and match the size formula (seeded trials)") {
    val rnd = new scala.util.Random(42)
    // sparse arrays across several chunks
    roundtrip(Array.fill(500)(rnd.nextInt(1 << 20).toLong))
    // dense chunk -> bitmap (random, runs don't pay)
    roundtrip(Array.fill(30000)(rnd.nextInt(65536).toLong).distinct)
    // contiguous block -> run container
    roundtrip((1000L until 9000L).toArray)
    // mixed: run chunk + sparse chunk + dense chunk
    roundtrip(((0L until 70000L).filter(_ % 2 == 0) ++ // dense even bitmap chunk 0
      (131072L until 140000L) ++ // run chunk 2
      Array.fill(100)(rnd.nextInt(65536) + 196608L)).toArray) // sparse chunk 3
    // single position, chunk-boundary positions
    roundtrip(Array(0L)); roundtrip(Array(65535L, 65536L, 4294967295L))
    // 25 random shapes
    (1 to 25).foreach { _ =>
      val n = 1 + rnd.nextInt(5000)
      roundtrip(Array.fill(n)((rnd.nextLong() & 0x3FFFFFFFL)))
    }
  }

  test("runOptimize rule: contiguous block picks run, random dense picks bitmap, sparse picks array") {
    val block = (0L until 10000L).toArray // one run spanning chunk 0
    val (_, _, _, nRun) = RoaringDv.census(block)
    assert(nRun >= 1, "contiguous block must serialize as run container(s)")
    val rnd = new scala.util.Random(7)
    val dense = Array.fill(40000)(rnd.nextInt(65536).toLong).distinct
    val (_, _, nBmp, _) = RoaringDv.census(dense)
    assert(nBmp == 1, "random 60%-dense chunk must be a bitmap container")
    val sparse = Array.fill(100)(rnd.nextInt(65536).toLong).distinct
    val (_, nArr, _, _) = RoaringDv.census(sparse)
    assert(nArr == 1, "sparse chunk must be an array container")
  }

  test("deletion-vector-v1 blob: envelope roundtrips, CRC catches corruption, 64-bit keys work") {
    val ps = Array(1L, 2L, 3L, 100000L, (5L << 32) | 123L) // two 32-bit keys
    val blob = RoaringDv.serializeDvBlob(ps)
    assert(RoaringDv.deserializeDvBlob(blob).toSeq == ps.sorted.toSeq)
    val corrupted = blob.clone(); corrupted(10) = (corrupted(10) ^ 0x5A).toByte
    intercept[IllegalArgumentException](RoaringDv.deserializeDvBlob(corrupted))
    // magic check
    val badMagic = blob.clone(); badMagic(4) = 0
    intercept[IllegalArgumentException](RoaringDv.deserializeDvBlob(badMagic))
  }

  private def lineitem = Tables.lineitem(spark, sf0001)

  private lazy val dvLoc: String = {
    val l = Files.createTempDirectory("graft_dv_spec_").toString
    IcebergTable.append(spark, lineitem
      .filter(col("l_shipdate") < lit("1997-01-01").cast("timestamp")), l, sorted = true)
    IcebergTable.append(spark, lineitem
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp")), l, sorted = true)
    IcebergTable.appendDvPuffin(spark, l, pmod(col("l_orderkey"), lit(10L)) === 6L)
    l
  }

  test("DV commit: one Puffin file, one deletion-vector-v1 blob per victim file, v3 manifest fields") {
    val meta = IcebergTable.readMetadata(dvLoc)
    assert(meta.snapshots.size == 3)
    val manifests = IcebergTable.readManifestList(
      IcebergTable.currentSnapshot(meta).manifestList)
    val dvEntries = manifests.flatMap(m => IcebergTable.readManifest(m.path))
      .filter(_.content == 1)
    assert(dvEntries.nonEmpty)
    assert(dvEntries.map(_.path).distinct.size == 1, "all DV blobs share one Puffin file")
    assert(dvEntries.forall(e => e.referencedDataFile.isDefined &&
      e.contentOffset >= 4 && e.contentSize > 0))
    val (fm, payloadOf) = Puffin.read(new java.io.File(dvEntries.head.path))
    val blobs = fm.blobs.filter(_.blobType == "deletion-vector-v1")
    assert(blobs.size == dvEntries.size)
    // footer metadata and manifest entries agree blob-for-blob
    val byRef = blobs.map(b => b.properties("referenced-data-file") -> b).toMap
    dvEntries.foreach { e =>
      val b = byRef(e.referencedDataFile.get)
      assert(b.offset == e.contentOffset && b.length == e.contentSize)
      assert(b.properties("cardinality").toLong == e.recordCount)
      // decoded cardinality equals the declared one (CRC verified inside)
      assert(RoaringDv.deserializeDvBlob(payloadOf(b)).length.toLong == e.recordCount)
    }
  }

  test("DV merge-on-read: survivors are exactly the predicate complement") {
    val (live, plan, _, _, dvs) = IcebergTable.readMorUnified(spark, dvLoc)
    val expected = lineitem.filter(col("l_orderkey") % 10 =!= 6L).count()
    assert(live.count() == expected)
    assert(live.filter(col("l_orderkey") % 10 === 6L).count() == 0)
    assert(plan.files.forall(_.content == 0))
    assert(dvs.map(_.recordCount).sum ==
      lineitem.filter(col("l_orderkey") % 10 === 6L).count())
  }

  test("sharded DV commit: blobs split across >=2 Puffin files by file_path hash, MOR read unchanged") {
    val l = Files.createTempDirectory("graft_dv_shard_spec_").toString
    IcebergTable.append(spark, lineitem
      .filter(col("l_shipdate") < lit("1997-01-01").cast("timestamp")), l, sorted = true)
    IcebergTable.append(spark, lineitem
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp")), l, sorted = true)
    IcebergTable.appendDvPuffin(spark, l,
      pmod(col("l_orderkey"), lit(10L)) === 6L, shards = 4)
    val meta = IcebergTable.readMetadata(l)
    val dvEntries = IcebergTable.readManifestList(
        IcebergTable.currentSnapshot(meta).manifestList)
      .flatMap(m => IcebergTable.readManifest(m.path)).filter(_.content == 1)
    val puffins = dvEntries.map(_.path).distinct
    assert(puffins.size >= 2,
      s"forced 4-shard commit must write >=2 Puffin files, got ${puffins.size}")
    // every blob's manifest coordinates resolve inside ITS shard's file
    dvEntries.foreach { e =>
      val (fm, payloadOf) = Puffin.read(new java.io.File(e.path))
      val b = fm.blobs.find(_.properties("referenced-data-file") ==
        e.referencedDataFile.get).get
      assert(b.offset == e.contentOffset && b.length == e.contentSize)
      assert(RoaringDv.deserializeDvBlob(payloadOf(b)).length.toLong == e.recordCount)
    }
    val live = IcebergTable.readMorUnified(spark, l)._1
    assert(live.count() == lineitem.filter(col("l_orderkey") % 10 =!= 6L).count())
  }

  test("sorted append: in-file positions equal the (l_orderkey, l_linenumber) rank per month") {
    // read one data file back and check positions follow the sort key
    val plan = IcebergTable.planFiles(dvLoc)
    val f = plan.files.head
    val rows = spark.read.parquet(f.path)
      .select(col("_metadata.row_index").cast("long").as("pos"),
        col("l_orderkey"), col("l_linenumber"))
      .orderBy("pos").collect()
    val sorted = rows.map(r => (r.getLong(1), r.getInt(2).toLong)).toSeq
    assert(sorted == sorted.sorted, "file rows must be in (orderkey, linenumber) order")
  }
}
