package graft.lake

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bucketed-table co-located joins (SURVEY §4; r2 verdict "What's
  * missing" #2): the 100 TB answer to the fact-fact shuffle join in j4.
  * Write both facts bucketed (and sorted) on the join key once, and
  * every subsequent equi-join on that key consumes bucket-aligned files
  * with NO Exchange at read time — the recurring lineitem⋈orders
  * shuffle (the single largest data movement in the star-join plan at
  * 1000 executors) becomes a one-time write-side cost amortized over
  * every downstream join/aggregation on the key.
  *
  * Mechanics: the bucket function is Spark's HashPartitioning on the
  * key, recorded in the catalog; scans of a bucketed table report that
  * output partitioning, so EnsureRequirements inserts no shuffle when
  * both sides hash the same key into the same (or a dividing) bucket
  * count. `sortBy` additionally pre-sorts within buckets — with one
  * file per bucket the merge join's Sort disappears too.
  */
object Bucketing {

  /** Write `df` as a bucketed+sorted catalog table. bucketBy requires
    * `saveAsTable`: the bucket spec lives in the metastore (Glue
    * Catalog ≙ Hive metastore here), which is what lets OTHER sessions'
    * plans see and exploit the co-location.
    */
  def writeBucketed(df: DataFrame, table: String, key: String,
      buckets: Int = 32): Unit =
    writeAligned(df, table, "overwrite", buckets, Seq(key), Seq(key))

  /** The one bucketed write every graft table lands through
    * ([[writeBucketed]], [[IndexTables.persist]]'s staging write,
    * [[IndexTables.appendIncrement]]): repartition on the bucket keys
    * first, then bucketBy → sortBy → saveAsTable. bucketBy does NOT
    * shuffle, so an unaligned input writes (write tasks × buckets)
    * fragment files — measured 21 s vs 15 s on the sf1 cold s2 probe
    * before persist aligned. Spark's bucket id is pmod(Murmur3, n), the
    * same function hash-repartitioning uses, so each write task holds
    * exactly one bucket's rows and the write lands one sorted file per
    * bucket.
    */
  private[lake] def writeAligned(df: DataFrame, table: String, mode: String,
      buckets: Int, bucketCols: Seq[String], sortCols: Seq[String]): Unit =
    df.repartition(buckets, bucketCols.map(df.col): _*)
      .write.mode(mode).format("parquet")
      .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(sortCols.head, sortCols.tail: _*)
      .saveAsTable(table)

  /** Equi-join two bucketed tables on their bucket keys — plans with
    * the bucketed scans feeding the join directly, no Exchange on
    * either side (asserted in BucketingSpec).
    */
  def bucketedEquiJoin(spark: SparkSession, leftTable: String,
      rightTable: String, leftKey: String, rightKey: String): DataFrame = {
    val l = spark.table(leftTable)
    val r = spark.table(rightTable)
    l.join(r, l(leftKey) === r(rightKey))
  }
}
