package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.lake.IndexTables
import graft.text.{Dedup, Dsir, Winnowing}

/** The serving tables' bucket-count rule ([[IndexTables.sizedBuckets]]):
  * a persist that names no count sizes the table from its corpus the
  * way Spark splits a file scan, rounded up to a power of two and
  * capped at [[IndexTables.MaxBuckets]]; an explicit count is honored;
  * appends and compactions keep the table's own count; and the sized
  * layout serves the same rows as a rebuild on the grown corpus.
  */
class BucketSizingSpec extends AnyFunSuite {
  import TestSpark._

  private val KB = 1024L
  private val MB = 1024L * KB
  private val GB = 1024L * MB

  private def numBuckets(table: String): Int =
    spark.sessionState.catalog.getTableMetadata(TableIdentifier(table))
      .bucketSpec.get.numBuckets

  private def dataFiles(table: String): Int = {
    val loc = new org.apache.hadoop.fs.Path(spark.sessionState.catalog
      .getTableMetadata(TableIdentifier(table)).location)
    loc.getFileSystem(spark.sessionState.newHadoopConf()).listStatus(loc)
      .count(_.getPath.getName.startsWith("part-"))
  }

  private def rowSet(df: DataFrame): Set[String] =
    df.collect().map(_.toString).toSet

  /** Spark's own split size for `bytes` of data in `files` files. */
  private def split(bytes: Long, files: Long): Long =
    FilePartition.maxSplitBytes(spark,
      bytes + files * spark.sessionState.conf.filesOpenCostInBytes)

  test("rule as a function of bytes: 1 bucket at the benchmark's tier size, powers of two only, never above the cap, never fewer than the split count below it") {
    // the benchmark's lake tier: a 57 KB documents file, 1.8 MB in 10
    // files for the whole tier directory
    assert(IndexTables.bucketsFor(57 * KB, split(57 * KB, 1), 32) == 1)
    assert(IndexTables.bucketsFor(1843 * KB, split(1843 * KB, 10), 32) == 1)
    assert(IndexTables.bucketsFor(1843 * KB, split(1843 * KB, 10), 8) == 1)
    // a multi-GB corpus keeps the layout of the fixed default
    assert(IndexTables.bucketsFor(8 * GB, split(8 * GB, 64), 32) == 32)
    assert(IndexTables.bucketsFor(8 * GB, split(8 * GB, 64), 8) == 8)

    val sizes = Seq(0L, 1L, 57 * KB, 4 * MB, 4 * MB + 1, 40 * MB, 130 * MB,
      513 * MB, GB, 3 * GB, 8 * GB, 100 * GB, 10 * 1024 * GB)
    for (cap <- Seq(1, 8, 32); files <- Seq(1L, 10L, 1000L)) {
      var last = 0
      for (bytes <- sizes) {
        val sp = split(bytes, files)
        val n = IndexTables.bucketsFor(bytes, sp, cap)
        val splits = math.max(1L, (bytes + sp - 1) / sp)
        assert(n >= 1 && Integer.bitCount(n) == 1,
          s"$bytes B / $files files: $n is not a power of two")
        assert(n <= cap, s"$bytes B: $n buckets above the cap $cap")
        assert(n >= math.min(cap.toLong, splits),
          s"$bytes B: $n buckets below the split count $splits (cap $cap)")
        assert(n >= last, s"$bytes B: $n buckets after $last for fewer bytes")
        last = n
      }
    }

    // the same rule at fixed splits, no session involved
    assert(IndexTables.bucketsFor(0, 4 * MB, 32) == 1)
    assert(IndexTables.bucketsFor(4 * MB, 4 * MB, 32) == 1)
    assert(IndexTables.bucketsFor(4 * MB + 1, 4 * MB, 32) == 2)
    assert(IndexTables.bucketsFor(9 * MB, 4 * MB, 32) == 4)
    assert(IndexTables.bucketsFor(Long.MaxValue, 128 * MB, 32) == 32)
    intercept[IllegalArgumentException](IndexTables.bucketsFor(1, 4 * MB, 24))
  }

  test("a default persist of a small corpus lands 1 bucket in 1 file; an explicit count lands exactly that count") {
    val dir = java.nio.file.Files.createTempDirectory("sized_persist")
    val p = s"$dir/documents.parquet"
    graft.lake.Tables.documents(spark, sf).write.parquet(p)
    try {
      assert(IndexTables.sizedBuckets(spark, p) == 1)
      assert(IndexTables.sizedBuckets(spark, s"$dir/absent") == 1)
      val sized = Dedup.persistBandIndexFor(spark, p, spark.read.parquet(p))
      assert(numBuckets(sized) == 1 && dataFiles(sized) == 1)
      val ratios = Dsir.persistRatioTable(spark, dir.toString)
      assert(numBuckets(ratios) == 1)

      val four = Dedup.persistBandIndexFor(spark, p, spark.read.parquet(p),
        buckets = 4)
      assert(numBuckets(four) == 4 && dataFiles(four) <= 4)
      assert(numBuckets(Dsir.persistRatioTable(spark, dir.toString,
        buckets = 2)) == 2)
      intercept[IllegalArgumentException] {
        IndexTables.persist(spark, spark.read.parquet(p), "szneg", p,
          Seq("doc_id"), -1)
      }
    } finally {
      IndexTables.drop(spark, "band", p)
      Dsir.dropRatioTable(spark, dir.toString)
    }
  }

  test("appendIncrement and compact keep the table's own count; only a full persist re-sizes it") {
    val dir = java.nio.file.Files.createTempDirectory("sized_keep")
    val p = s"$dir/documents.parquet"
    val docs = graft.lake.Tables.documents(spark, sf).localCheckpoint()
    val n = docs.count()
    docs.filter(col("doc_id") < n / 2).write.parquet(p)
    try {
      val t = Dedup.persistBandIndexFor(spark, p, spark.read.parquet(p),
        buckets = 4)
      val prevSig = Dedup.bandIndexStamp(spark, p).get
      val inc = docs.filter(col("doc_id") >= n / 2)
      inc.write.mode("append").parquet(p)
      Dedup.appendBandIndex(spark, p, inc, prevSig)
      assert(numBuckets(t) == 4, "the append re-sized the table")
      assert(IndexTables.compact(spark, "band", p).contains(t))
      assert(numBuckets(t) == 4, "the compaction re-sized the table")
      assert(dataFiles(t) <= 4, "compaction left more than a file per bucket")

      Dedup.persistBandIndexFor(spark, p, spark.read.parquet(p))
      assert(numBuckets(t) == IndexTables.sizedBuckets(spark, p))
      assert(numBuckets(t) == 1)
    } finally IndexTables.drop(spark, "band", p)
  }

  test("sized band and fingerprint tables: persist + append serve the rows of a rebuild on the grown corpus") {
    val dir = java.nio.file.Files.createTempDirectory("sized_serve")
    val d = dir.toString
    val p = s"$d/documents.parquet"
    val docs = graft.lake.Tables.documents(spark, sf).localCheckpoint()
    val n = docs.count()
    docs.filter(col("doc_id") < 3L * n / 5L).write.parquet(p)
    try {
      val band = Dedup.persistBandIndexFor(spark, p, spark.read.parquet(p))
      val fps = Winnowing.persistFingerprintIndex(spark, d)
      (band +: fps).foreach(t => assert(numBuckets(t) == 1, s"$t not sized"))
      val bandSig = Dedup.bandIndexStamp(spark, p).get
      val fpSig = Winnowing.fingerprintStamp(spark, d).get

      val inc = docs.filter(col("doc_id") >= 3L * n / 5L)
      inc.write.mode("append").parquet(p)
      Dedup.appendBandIndex(spark, p, inc, bandSig)
      Winnowing.appendFingerprintIndex(spark, d, inc, fpSig)

      val grown = spark.read.parquet(p)
      assert(rowSet(Dedup.servedBandIndex(spark, p).get) ==
        rowSet(Dedup.bandIndex(grown)),
        "served band rows != a rebuild on the grown corpus")
      assert(rowSet(Winnowing.servedFingerprints(spark, d).get) ==
        rowSet(Winnowing.fingerprints(grown).select("doc_id", "h").distinct()),
        "served fingerprint rows != a rebuild on the grown corpus")
      assert(rowSet(Winnowing.servedNormFingerprints(spark, d).get) ==
        rowSet(Winnowing.normalizedFingerprints(grown)),
        "served normalized fingerprint rows != a rebuild on the grown corpus")
    } finally {
      IndexTables.drop(spark, "band", p)
      Winnowing.dropFingerprintIndex(spark, d)
    }
  }
}
