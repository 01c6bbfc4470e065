package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.lake.{CorpusIndexCache, Tables}

/** The benchmark's JVM side: one workload in one fresh JVM at
  * local[cores], timing calls into graft's public entry points. It
  * writes every raw timing, span and tally as one JSON file; run.py
  * turns that into metrics and checks the query outputs it leaves.
  *
  *   --workload corpus_session|lake_refresh --seed N --seconds S
  *   --trace 0|1 --cores N --data DIR --work DIR --out FILE
  */
object Harness {

  /** The `SparkEntry.queries` each workload runs. corpus_session's each
    * build a session memo on their first call; lake_refresh's are served
    * off the tables it persists and maintains, one per table family.
    */
  val Workloads: Map[String, Seq[String]] = Map(
    "corpus_session" -> Seq("g11_louvain_refine", "d5_components",
      "d10_allpairs_jaccard", "t30_bpe_train", "t40_dup_span_coverage",
      "t42_dsir_weights", "s5_kmeans_assign", "mm5_image_neardup"),
    "lake_refresh" -> Seq("t29_winnowing", "t41_substring_dedup",
      "t43_dsir_resample", "mm5_image_neardup", "l3_incremental_agg"))

  /** Warm passes every untraced run makes, however long they take;
    * more follow while the run is inside its --seconds.
    */
  val MinWarm = Map("corpus_session" -> 3, "lake_refresh" -> 1)

  val Modules: Seq[(String, Iterable[String])] = Seq(
    "queries.CoreQueries" -> graft.queries.CoreQueries.queries.keys,
    "queries.FunctionQueries" -> graft.queries.FunctionQueries.queries.keys,
    "queries.B3Queries" -> graft.queries.B3Queries.queries.keys,
    "queries.EventAnalytics" -> graft.queries.EventAnalytics.queries.keys,
    "queries.Graph" -> graft.queries.Graph.queries.keys,
    "lake.ZOrder" -> graft.lake.ZOrder.queries.keys,
    "ops.Warehouse" -> graft.ops.Warehouse.queries.keys,
    "ops.BloomJoin" -> graft.ops.BloomJoin.queries.keys,
    "streaming.StreamQueries" -> graft.streaming.StreamQueries.queries.keys,
    "text.Dedup" -> graft.text.Dedup.queries.keys,
    "text.SetSimilarity" -> graft.text.SetSimilarity.queries.keys,
    "text.Bm25" -> graft.text.Bm25.queries.keys,
    "text.TextAnalysis" -> graft.text.TextAnalysis.queries.keys,
    "text.SubstringDedup" -> graft.text.SubstringDedup.queries.keys,
    "text.Dsir" -> graft.text.Dsir.queries.keys,
    "text.Winnowing" -> graft.text.Winnowing.queries.keys,
    "text.Redaction" -> graft.text.Redaction.queries.keys,
    "text.Normalize" -> graft.text.Normalize.queries.keys,
    "text.Pipelines" -> graft.text.Pipelines.queries.keys,
    "sim.Similarity" -> graft.sim.Similarity.queries.keys,
    "sim.KMeans" -> graft.sim.KMeans.queries.keys,
    "sim.Hybrid" -> graft.sim.Hybrid.queries.keys,
    "sim.ProductQuantization" -> graft.sim.ProductQuantization.queries.keys,
    "mm.Multimodal" -> graft.mm.Multimodal.queries.keys)

  lazy val moduleOf: Map[String, String] =
    Modules.flatMap { case (m, ks) => ks.map(_ -> m) }.toMap

  /** The fixed projection timed per kernel: (kernel, input column, SQL). */
  val Kernels: Seq[(String, String, String)] = Seq(
    ("graft_ngram_md5", "text", "size(graft_ngram_md5(text, 5))"),
    ("graft_minhash", "text", "graft_minhash(text)"),
    ("graft_simhash", "text", "graft_simhash(text)"),
    ("graft_lev", "text", "graft_lev(substr(text, 1, 48), substr(text, 5, 48), 8)"),
    ("graft_dot", "embedding", "graft_dot(embedding, embedding)"),
    ("graft_compress_bp", "text", "graft_compress_bp(text)"))

  val LakeTables = Seq("documents", "embeddings", "orders", "events")

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val cores = a("cores").toInt
    val work = a("work")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val workload = a("workload")
    val (tier, incs) = if (workload == "lake_refresh") ("lake", "inc") else ("base", "")
    val out = try {
      // set-up: one query on the small tier loads and JITs the scan,
      // aggregate and write paths before the first timed call
      val warmUp = "a1_groupby_sum_top5"
      val warmFailure = try {
        SparkEntry.queries(warmUp)(spark, s"${a("data")}/warm")
          .write.format("noop").mode("overwrite").save()
        Nil
      } catch { case e: Throwable => Seq(Map("op" -> s"warmup:$warmUp", "error" -> e.toString)) }
      val measured = new Run(spark, workload, a("seed").toLong, a("seconds").toDouble,
        a("trace") == "1", s"${a("data")}/$tier", s"$work/$incs", work, jvmStartMs).execute()
      measured ++ Map("failures" -> (warmFailure ++ measured("failures").asInstanceOf[Seq[Any]]))
    } finally spark.stop()
    Files.writeString(Paths.get(a("out")), Json.write(out))
  }
}

/** One run of one workload on input tier `tier` (lake_refresh: with the
  * increments under `incs`), working under `work`.
  */
final class Run(spark: SparkSession, workload: String, seed: Long,
    seconds: Double, traced: Boolean, tier: String, incs: String, work: String,
    jvmStartMs: Long) {
  import Harness._

  private val names = Workloads.getOrElse(workload,
    throw new IllegalArgumentException(s"unknown workload $workload"))
  private val tracer = new Tracer(spark, traced)
  private val failures = mutable.ArrayBuffer.empty[Map[String, Any]]
  private var timedFrom = 0.0

  private def now: Double = System.nanoTime() / 1e9
  private def time(f: => Any): Double = { val t = now; f; now - t }

  private def fail(op: String, e: Throwable): Unit = synchronized {
    val msg = Option(e.getMessage).getOrElse(e.toString).linesIterator.nextOption()
      .getOrElse("").take(300)
    failures += Map("op" -> op, "error" -> s"${e.getClass.getSimpleName}: $msg")
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** One query: its construction (every job `fn` launches before it
    * returns a plan) and its execution into the noop sink.
    */
  private def query(name: String, dir: String): Map[String, Any] = {
    val t0 = now
    var ok = true
    tracer.span("query", name) {
      try {
        val df = tracer.span("construct", name)(SparkEntry.queries(name)(spark, dir))
        tracer.span("execute", name)(noop(df))
      } catch { case e: Throwable => ok = false; fail(s"query:$name", e) }
    }
    Map("name" -> name, "module" -> moduleOf.getOrElse(name, "?"),
      "s" -> (now - t0), "ok" -> ok)
  }

  /** The seeded query order of pass `idx`. */
  private def order(idx: Int): Seq[String] =
    new Random(seed * 1000003L + idx).shuffle(names)

  private def pass(kind: String, idx: Int, dir: String,
      trace: Boolean): Map[String, Any] = {
    tracer.record(trace)
    val t0 = now
    val qs = tracer.span("pass", s"$kind$idx")(order(idx).map(query(_, dir)))
    Map("kind" -> kind, "idx" -> idx, "traced" -> trace, "wall_s" -> (now - t0),
      "order" -> order(idx), "queries" -> qs)
  }

  private def storage(): Map[String, Any] = {
    val infos = spark.sparkContext.getRDDStorageInfo
    Map("block_mb" -> infos.map(i => i.memSize + i.diskSize).sum / 1e6,
      "cached_rdds" -> infos.count(_.numCachedPartitions > 0))
  }

  /** Median milliseconds to open every table of `dir` through Tables.*,
    * and to take each table's content signature.
    */
  private def lakeMeta(dir: String, tables: Seq[String]): Map[String, Any] = {
    def med(xs: Seq[Double]) = xs.sorted.apply(xs.size / 2)
    val open = (1 to 5).map(_ => time(tables.foreach(t => Tables.table(spark, dir, t))))
    val sig = (1 to 5).map(_ => time(tables.foreach(t =>
      CorpusIndexCache.signature(s"$dir/$t.parquet"))))
    Map("open_ms" -> med(open) * 1e3, "signature_ms" -> med(sig) * 1e3)
  }

  /** Rows per second of each kernel's fixed projection (median of 3)
    * over the tier's documents or embeddings, replicated 40 times.
    */
  private def kernels(dir: String): Map[String, Any] = {
    val inputs = Map(
      "text" -> Tables.documents(spark, dir).select("text"),
      "embedding" -> Tables.embeddings(spark, dir).select("embedding")
    ).map { case (c, df) =>
      val rep = spark.range(40).crossJoin(df).drop("id")
        .repartition(spark.sparkContext.defaultParallelism).localCheckpoint()
      c -> (rep, rep.count())
    }
    Kernels.map { case (k, column, sql) =>
      val (src, n) = inputs(column)
      val ts = (1 to 3).map(_ => time(tracer.span("kernel", k)(
        noop(src.selectExpr(s"$sql AS x")))))
      k -> n / ts.sorted.apply(1)
    }.toMap
  }

  /** Runs untimed check operations concurrently: they launch small
    * single-task jobs, so a few at a time keep the cores busy.
    */
  private def concurrently[A](threads: Int)(ops: Seq[() => A]): Seq[A] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try ops.map(op => pool.submit(new java.util.concurrent.Callable[A] {
      def call(): A = op()
    })).map(_.get())
    finally pool.shutdown()
  }

  /** Untimed: each query's result, for run.py's row-count + hash check. */
  private def dumpOutputs(dir: String, to: String, qs: Seq[String]): Unit =
    concurrently(spark.sparkContext.defaultParallelism)(qs.map(q => () =>
      try SparkEntry.queries(q)(spark, dir).coalesce(1).write.mode("overwrite")
        .parquet(s"$to/$q")
      catch { case e: Throwable => fail(s"check:$q", e) }))

  def execute(): Map[String, Any] = {
    val body = if (workload == "lake_refresh") lakeRefresh() else sessionPasses()
    tracer.record(false)
    val sc = spark.sparkContext
    Map("workload" -> workload, "seed" -> seed, "seconds" -> seconds,
      "traced" -> traced,
      "env" -> Map("cores" -> sc.defaultParallelism,
        "heap_mb" -> Runtime.getRuntime.maxMemory / 1e6,
        "storage_mb" -> sc.getExecutorMemoryStatus.values.map(_._1).sum / 1e6,
        "spark_version" -> spark.version),
      "failures" -> failures.toSeq) ++ body ++
      (if (traced) Map("trace" -> tracer.toJson) else Map.empty)
  }

  /** Whether warm pass `i` runs. A traced run makes exactly four,
    * alternating traced and untraced (the untraced ones price the
    * tracing overhead); lake_refresh's traced runs make three.
    */
  private def more(i: Int): Boolean =
    if (traced) i <= (if (workload == "lake_refresh") 3 else 4)
    else i <= MinWarm(workload) || now - timedFrom < seconds

  /** Marks the first timed call: set-up ends here. */
  private def startTiming(): Double = {
    timedFrom = now
    System.currentTimeMillis() / 1e3 - jvmStartMs / 1e3
  }

  // ---- corpus_session: a cold pass, then warm passes -----------------

  private def sessionPasses(): Map[String, Any] = {
    val dir = tier
    val tables = Seq("orders", "lineitem", "events", "documents", "embeddings")
    val metaBefore = if (traced) lakeMeta(dir, tables) else Map.empty
    val setupS = startTiming()
    val passes = mutable.ArrayBuffer(pass("cold", 0, dir, trace = true))
    var i = 1
    while (more(i)) {
      passes += pass("warm", i, dir, trace = !traced || i % 2 == 1)
      i += 1
    }
    tracer.record(true)
    val store = storage()
    val extra = if (!traced) Map.empty else Map(
      "kernels" -> kernels(dir),
      "meta_after" -> lakeMeta(dir, tables), "meta_before" -> metaBefore)
    tracer.record(false)
    val checkS = time(dumpOutputs(dir, s"$work/out", names))
    Map("setup_s" -> setupS, "passes" -> passes.toSeq, "storage" -> store,
      "check_s" -> checkS) ++ extra
  }

  // ---- lake_refresh: persist, serve, then seeded increment cycles -----

  private def normed(df: DataFrame): DataFrame =
    graft.sim.Similarity.withNorm(df.select("vec_id", "embedding"))

  /** Every serving table of tier `d`, as (name, build from scratch). */
  private def serving(d: String, familyN: Long): Seq[(String, () => Any)] = {
    import graft.text.{Dedup, Dsir, SubstringDedup, Winnowing}
    Seq(
      "fingerprint" -> (() => Winnowing.persistFingerprintIndex(spark, d)),
      "occurrence" -> (() => SubstringDedup.persistOccurrenceIndex(spark, d)),
      "dsir_ratio" -> (() => Dsir.persistRatioTable(spark, d)),
      "phash" -> (() => graft.mm.Multimodal.persistPhashIndex(spark, d)),
      "band" -> (() => Dedup.persistBandIndexFor(spark, s"$d/documents.parquet",
        Tables.documents(spark, d))),
      "admission" -> (() => graft.sim.Similarity.persistAdmissionIndexFor(spark,
        s"$d/embeddings.parquet", normed(Tables.embeddings(spark, d)), familyN)),
      "warehouse" -> (() => graft.ops.Warehouse.persistWarehouseState(spark, d)))
  }

  /** The increment rows admitted against the SERVED band / admission
    * indexes of tier `d` — the daily-crawl step those indexes exist for.
    */
  private def admitDocs(d: String, inc: DataFrame): DataFrame =
    inc.join(graft.text.Dedup.admitIncrement(Tables.documents(spark, d), inc,
      corpusBands = graft.text.Dedup.servedBandIndex(spark, s"$d/documents.parquet"))
      .select("doc_id"), Seq("doc_id"), "left_semi")

  private def admitVecs(d: String, inc: DataFrame, familyN: Long): DataFrame =
    inc.join(graft.sim.Similarity.admitEmbeddingIncrement(
      normed(Tables.embeddings(spark, d)), normed(inc), familyN,
      corpusIndex = graft.sim.Similarity.servedAdmissionIndex(spark,
        s"$d/embeddings.parquet")).select("vec_id"), Seq("vec_id"), "left_semi")

  /** The lake check's results, keyed by operation: every served query,
    * plus the probe increment's admitted document and vector ids.
    */
  private def results(d: String, docs: DataFrame, vecs: DataFrame,
      familyN: Long): Seq[(String, Option[Seq[String]])] = {
    def rows(op: String)(df: => DataFrame) =
      op -> (try Some(df.collect().toSeq.map(Check.row))
             catch { case e: Throwable => fail(s"check:$op", e); None })
    names.map(q => rows(q)(SparkEntry.queries(q)(spark, d))) ++ Seq(
      rows("admit_documents")(admitDocs(d, docs).select("doc_id").orderBy("doc_id")),
      rows("admit_embeddings")(
        admitVecs(d, vecs, familyN).select("vec_id").orderBy("vec_id")))
  }

  private def files(p: Path): Map[String, (Long, Long)] =
    if (!Files.exists(p)) Map.empty
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_))
      .map(f => f.toString -> (Files.size(f), Files.getLastModifiedTime(f).toMillis))
      .toMap

  private def lakeRefresh(): Map[String, Any] = {
    import graft.text.{Dedup, Dsir, SubstringDedup, Winnowing}
    import graft.mm.Multimodal
    import graft.ops.Warehouse
    import graft.sim.Similarity
    graft.functions.VectorExpressions.ensureRegistered(spark)
    val lake = s"$work/lake"
    // tier preparation: a private, appendable copy of the lake tier
    copyTier(Paths.get(tier), Paths.get(lake), asDirs = true)
    val docPath = s"$lake/documents.parquet"
    val vecPath = s"$lake/embeddings.parquet"
    val familyN = Tables.embeddings(spark, lake).count()
    val incNames = Files.list(Paths.get(incs)).iterator().asScala
      .map(_.getFileName.toString).toSeq.sorted
    val probe = incNames.last // the check's probe increment, never landed
    val cycles = incNames.init
    def incPath(c: String, t: String) = s"$incs/$c/$t.parquet"
    def lakeFiles() = files(Paths.get(lake)) ++ files(Paths.get(work, "warehouse"))

    val metaBefore = if (traced) lakeMeta(lake, LakeTables) else Map.empty
    val setupS = startTiming()
    // the cold pass builds every serving table from scratch
    tracer.record(true)
    val persistS = mutable.LinkedHashMap.empty[String, Double]
    val persistWall = time(tracer.span("pass", "cold0") {
      serving(lake, familyN).foreach { case (t, build) =>
        persistS(t) = time(tracer.span("persist", t) {
          try build() catch { case e: Throwable => fail(s"persist:$t", e) }
        })
      }
    })
    val passes = mutable.ArrayBuffer[Map[String, Any]](Map("kind" -> "cold",
      "idx" -> 0, "traced" -> true, "wall_s" -> persistWall,
      "persist_s" -> persistS.toMap, "order" -> Seq.empty, "queries" -> Seq.empty))

    var i = 1
    val written = mutable.ArrayBuffer.empty[Map[String, Any]]
    while (i <= cycles.size && more(i)) {
      val c = cycles(i - 1)
      val trace = !traced || i % 2 == 1
      tracer.record(trace)
      val before = lakeFiles()
      val t0 = now
      val appendS = mutable.LinkedHashMap.empty[String, Double]
      var landS = 0.0
      tracer.span("cycle", c) {
        try {
          // every stamp is read BEFORE the increment lands (the append
          // APIs' prevSig contract)
          val stamp = Map(
            "fingerprint" -> Winnowing.fingerprintStamp(spark, lake),
            "occurrence" -> SubstringDedup.occurrenceStamp(spark, lake),
            "dsir_ratio" -> Dsir.ratioStamp(spark, lake),
            "phash" -> Multimodal.phashStamp(spark, lake),
            "band" -> Dedup.bandIndexStamp(spark, docPath),
            "admission" -> Similarity.admissionIndexStamp(spark, vecPath),
            "wh_orders" -> Warehouse.aggStateStamp(spark, lake),
            "wh_events" -> Warehouse.hllStateStamp(spark, lake),
            "wh_join" -> Warehouse.joinViewStamp(spark, lake)).map {
              case (k, v) => k -> v.getOrElse(throw new IllegalStateException(
                s"serving table $k is not persisted"))
            }
          var docs, vecs, orders, events: DataFrame = null
          landS = time(tracer.span("land", c) {
            docs = admitDocs(lake, spark.read.parquet(incPath(c, "documents")))
              .localCheckpoint()
            vecs = admitVecs(lake, spark.read.parquet(incPath(c, "embeddings")),
              familyN).localCheckpoint()
            orders = spark.read.parquet(incPath(c, "orders"))
            events = spark.read.parquet(incPath(c, "events"))
            docs.write.mode("append").parquet(docPath)
            vecs.write.mode("append").parquet(vecPath)
            orders.write.mode("append").parquet(s"$lake/orders.parquet")
            events.write.mode("append").parquet(s"$lake/events.parquet")
          })
          def maintain(t: String)(f: => Any): Unit =
            appendS(t) = time(tracer.span("append", t)(f))
          maintain("fingerprint")(Winnowing.appendFingerprintIndex(spark, lake, docs, stamp("fingerprint")))
          maintain("occurrence")(SubstringDedup.appendOccurrenceIndex(spark, lake, docs, stamp("occurrence")))
          maintain("dsir_ratio")(Dsir.appendRatioTable(spark, lake, docs, stamp("dsir_ratio")))
          maintain("phash")(Multimodal.appendPhashIndex(spark, lake, docs, stamp("phash")))
          maintain("band")(Dedup.appendBandIndex(spark, docPath, docs, stamp("band")))
          maintain("admission")(Similarity.appendAdmissionIndex(spark, vecPath,
            normed(vecs), familyN, stamp("admission")))
          maintain("warehouse") {
            Warehouse.appendOrdersState(spark, lake, orders, stamp("wh_orders"))
            Warehouse.appendEventsState(spark, lake, events, stamp("wh_events"))
            Warehouse.appendJoinView(spark, lake, orders, stamp("wh_join"))
          }
        } catch { case e: Throwable => fail(s"cycle:$c", e) }
      }
      val maintainS = now - t0
      val changed = lakeFiles().filter { case (f, v) => !before.get(f).contains(v) }
      written += Map("cycle" -> c, "files" -> changed.size,
        "bytes" -> changed.values.map(_._1).sum,
        "increment_bytes" -> LakeTables.map(t =>
          files(Paths.get(incPath(c, t))).values.map(_._1).sum).sum)
      val served = pass("warm", i, lake, trace)
      passes += served ++ Map("cycle" -> c, "land_s" -> landS,
        "append_s" -> appendS.toMap, "served_s" -> served("wall_s"),
        "wall_s" -> (maintainS + served("wall_s").asInstanceOf[Double]))
      i += 1
    }
    tracer.record(true)
    val store = storage()
    val extra = if (!traced) Map.empty else Map(
      "kernels" -> kernels(lake),
      "meta_after" -> lakeMeta(lake, LakeTables), "meta_before" -> metaBefore)
    tracer.record(false)
    // files per bucket of each serving table (bucket id = the _NNNNN
    // suffix Spark gives a bucketed write's files)
    val wh = Paths.get(work, "warehouse")
    val buckets = files(wh).keys.toSeq.flatMap { f =>
      "_(\\d{5})\\.c000".r.findFirstMatchIn(f).map(m =>
        wh.relativize(Paths.get(f)).getName(0).toString -> m.group(1))
    }.groupBy(_._1).map { case (t, bs) =>
      t -> Map("files" -> bs.size, "buckets" -> bs.map(_._2).distinct.size)
    }

    // Untimed check: the served results after the increments against the
    // same operations computed straight from the grown corpus, in a new
    // session (no memo carried over) on a copy of the lake that has no
    // serving table.
    val c0 = now
    val probeDocs = spark.read.parquet(incPath(probe, "documents"))
    val probeVecs = spark.read.parquet(incPath(probe, "embeddings"))
    val fresh = s"$work/fresh"
    copyTier(Paths.get(lake), Paths.get(fresh), asDirs = false)
    val freshRun = new Run(spark.newSession(), workload, seed, seconds,
      traced = false, fresh, incs, work, jvmStartMs)
    val Seq(served, expectedSeq) = concurrently(2)(Seq(
      () => results(lake, probeDocs, probeVecs, familyN),
      () => freshRun.results(fresh, probeDocs, probeVecs, familyN)))
    val expected = expectedSeq.toMap
    failures ++= freshRun.failures
    val checks = served.collect { case (op, Some(got)) if expected(op).isDefined =>
      Map("op" -> op, "rows" -> got.size, "problem" -> Check.compare(got, expected(op).get))
    }
    Map("setup_s" -> setupS, "passes" -> passes.toSeq, "storage" -> store,
      "check_s" -> (now - c0), "checks" -> checks,
      "written" -> written.toSeq, "buckets" -> buckets) ++ extra
  }

  /** Copy every file under `from` to `to`; with `asDirs`, each
    * `<table>.parquet` file becomes a directory holding it, so later
    * increments can be appended beside it.
    */
  private def copyTier(from: Path, to: Path, asDirs: Boolean): Unit =
    Files.walk(from).iterator().asScala.filter(Files.isRegularFile(_)).foreach { f =>
      val rel = from.relativize(f)
      val dst = if (asDirs) to.resolve(rel).resolve("part-00000.parquet") else to.resolve(rel)
      Files.createDirectories(dst.getParent)
      Files.copy(f, dst, StandardCopyOption.REPLACE_EXISTING)
    }
}
