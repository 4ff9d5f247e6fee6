package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._
import scala.util.Random

import graft.operators.{KnnSearch, VectorOps}
import graft.sources.{EmbedIndex, IndexCatalog, InvertedIndex, Maintenance, ServingCache}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The repository benchmark: one workload per JVM, timed from the outside
  * around the engine's serve, lifecycle and query entry points.
  *
  * Usage: `PerfBench <workload> <seed> <seconds> <trace 0|1> <dataDir> <runDir>`
  * where `dataDir` holds the generated `documents.parquet` and
  * `embeddings.parquet` and `runDir` is a private scratch directory. The
  * last stdout line is one JSON object: `correct`, `attempted`, `failed`,
  * `metrics`, `batch_outputs` (query -> parquet dir, for the DuckDB oracle
  * compare) and `detail`.
  *
  * Workloads (why each exists is recorded in BENCHMARK.json):
  *  - serve_read: 2 closed-loop readers rotating fetch -> ann -> search,
  *    every request with fresh seeded parameters; nothing is written.
  *  - batch_prep: one caller in rounds of a maintenance cycle on both
  *    indexes (upsert, delete and vacuum of twin rows) followed by the
  *    LLM-data-prep query set.
  *
  * Untraced runs (`trace 0`) report the end-to-end metrics. Traced runs
  * (`trace 1`) tag every request, maintenance call and batch query with a
  * Spark job group, attribute jobs and tasks to it through a listener, and
  * report the per-layer split; the spans are kept in memory and written to
  * `<runDir>/../../traces/` at exit.
  */
object PerfBench {

  val Ops = Seq("fetch", "ann", "search")
  val Writes = Seq("vec.upsert", "vec.tombstone", "vec.vacuum",
    "embed16.upsert", "embed16.delete", "embed16.vacuum")
  /** The LLM-data-prep queries batch_prep runs, each with a DuckDB oracle:
    * parse, embed, the end-to-end prep pipeline, MinHash dedup and the
    * embed16 batch query. The run budget (about a minute) leaves out
    * q_dedup_ngram and q_dedup_clusters (6 s more per round) and
    * q_knn_join_large, whose DuckDB oracle alone takes 11-20 s. */
  val BatchQueries = Seq("q_parse", "q_embed", "q_pipeline_e2e",
    "q_dedup_minhash", "q_embed_index_batch")
  val Readers = 2
  /** Untimed serve_read load before the clock. */
  val WarmSeconds = 6.0
  /** serve_read searches re-run unpruned for the correctness verdict. */
  val SearchChecks = 2
  /** Floor on the mean ann recall@10 against brute force. */
  val MinRecall = 0.8
  /** Rows each maintenance cycle upserts and deletes again, per index. */
  val TwinRows = 10
  /** Bound on torn-read re-plans per request, as in ServeBench. */
  val MaxTornRetries = 6
  val Dim = 64
  val Probes = 4

  // ------------------------------------------------------------ tracing

  /** One traced unit of work: a serve request, a maintenance call or a
    * batch query; `built` is when the serve call returned its DataFrame. */
  final case class Span(group: String, kind: String, start: Long, built: Long,
                        end: Long, phases: Map[String, Double])

  final class JobRec(val group: String, val start: Long, val site: String) {
    @volatile var end: Long = -1L
  }

  /** Attributes jobs, tasks and task metrics to the job group set on the
    * submitting thread (inherited by the engine's `Par` worker threads). */
  final class Tracer extends SparkListener {
    private val jobs = new ConcurrentHashMap[Int, JobRec]()
    private val stageGroup = new ConcurrentHashMap[Int, String]()
    /** group -> tasks, task ms, input bytes, shuffle bytes, spill bytes,
      * bytes written */
    val tasks = new ConcurrentHashMap[String, Array[Long]]()

    override def onJobStart(js: SparkListenerJobStart): Unit = {
      val group = Option(js.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      // a stage's name is its call site ("count at ServingCache.scala:138")
      val site = js.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("")
      jobs.put(js.jobId, new JobRec(group, js.time, site))
      js.stageIds.foreach(s => stageGroup.put(s, group))
    }
    override def onJobEnd(je: SparkListenerJobEnd): Unit =
      Option(jobs.get(je.jobId)).foreach(_.end = je.time)
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
      val group = stageGroup.get(te.stageId)
      val m = te.taskMetrics
      if (group != null && m != null) {
        val a = tasks.computeIfAbsent(group, _ => new Array[Long](6))
        a.synchronized {
          a(0) += 1
          a(1) += m.executorRunTime
          a(2) += m.inputMetrics.bytesRead
          a(3) += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
          a(4) += m.memoryBytesSpilled + m.diskBytesSpilled
          a(5) += m.outputMetrics.bytesWritten
        }
      }
    }

    /** Wait until every started job has ended on the listener bus (a
      * job's task events precede its end event on the ordered bus). */
    def drain(): Unit = {
      val deadline = System.currentTimeMillis() + 20000
      while (jobs.values.asScala.exists(_.end < 0) && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
    }

    def jobsOf(group: String): Seq[JobRec] =
      jobs.values.asScala.filter(j => j.group == group && j.end > 0).toSeq
  }

  /** Wall-clock union of job intervals. */
  private def covered(js: Seq[JobRec]): Long =
    js.map(j => (j.start, j.end)).sortBy(_._1)
      .foldLeft(List.empty[(Long, Long)]) {
        case ((s, e) :: rest, (s2, e2)) if s2 <= e => (s, math.max(e, e2)) :: rest
        case (acc, iv) => iv :: acc
      }.map { case (s, e) => e - s }.sum

  // ------------------------------------------------------------ helpers

  private def pctl(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else s(math.min(s.size - 1, math.max(0, math.ceil(p * s.size).toInt - 1)))
  }
  private def median(xs: Seq[Double]): Double = pctl(xs, 0.5)
  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  private def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    if (na == 0 || nb == 0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** A unit query vector near a random stored vector: queries resemble the
    * corpus, as a user's questions resemble their chat lines. */
  private def queryVector(r: Random, stored: IndexedSeq[Array[Float]]): Array[Float] = {
    val base = stored(r.nextInt(stored.size))
    val v = Array.tabulate(Dim)(i => base(i) + 0.02 * r.nextGaussian())
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(x => (x / n).toFloat)
  }

  private def fmt(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString

  private def jstr(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def jsonMetrics(m: Seq[(String, (Double, String))]): String =
    m.map { case (k, (v, u)) => s"""${jstr(k)}:{"value":${fmt(v)},"unit":${jstr(u)}}""" }
      .mkString("{", ",", "}")

  private val clock0 = System.nanoTime()
  private def phase(what: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - clock0) / 1e9}%7.2f s  $what")

  // ------------------------------------------------------------ main

  def main(args: Array[String]): Unit = {
    require(args.length == 6,
      "usage: PerfBench <workload> <seed> <seconds> <trace 0|1> <dataDir> <runDir>")
    val Array(workload, seed, seconds, trace, dataDir, runDir) = args
    require(Seq("serve_read", "batch_prep").contains(workload), s"unknown workload: $workload")
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", Paths.get(runDir, "spark").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    phase("session up")
    var run: Run = null
    val code =
      try {
        run = new Run(spark, workload, seed.toLong, seconds.toDouble, trace == "1", dataDir, runDir)
        println(run.execute())
        0
      } catch { case e: Throwable => e.printStackTrace(); 1 }
      finally {
        Option(run).flatMap(_.cacheKey).foreach(k =>
          try Maintenance.deleteRecursively(Paths.get(k)) catch { case _: Throwable => () })
        spark.stop()
      }
    sys.exit(code)
  }

  /** Serve request parameters. */
  sealed trait Req { def op: String }
  final case class Fetch(ids: Seq[Long]) extends Req { val op = "fetch" }
  final case class Ann(q: Array[Float]) extends Req { val op = "ann" }
  final case class Search(text: String) extends Req { val op = "search" }
  /** A completed request with the rows it returned. */
  final case class Done(req: Req, start: Long, end: Long, rows: Seq[Seq[Any]]) {
    def ms: Double = (end - start) / 1e6
  }

  private final class Run(spark: SparkSession, workload: String, seed: Long,
                          seconds: Double, traced: Boolean, dataDir: String,
                          runDir: String) {
    private val sc = spark.sparkContext
    private val tracer = new Tracer
    if (traced) sc.addSparkListener(tracer)
    private val spans = new ConcurrentLinkedQueue[Span]()
    private val groupSeq = new AtomicLong(0L)
    /** The persisted-index cache entry of this run's data path. */
    var cacheKey: Option[String] = None

    private val attempted = new AtomicLong(0L)
    private val failed = new AtomicLong(0L)
    private val tornRetries = new AtomicLong(0L)
    private val problems = new ConcurrentLinkedQueue[String]()
    private def problem(s: String): Unit = {
      problems.add(s); System.err.println(s"[perfbench] CHECK FAILED: $s")
    }

    /** One unit of work, traced when tracing is on: `build` yields the
      * DataFrame a serve call returns (null for calls that return none),
      * `act` consumes it. */
    private def unit[T](kind: String)(build: => DataFrame)(act: DataFrame => T): T = {
      if (!traced) return act(build)
      val g = s"$kind#${groupSeq.incrementAndGet()}"
      sc.setJobGroup(g, kind, interruptOnCancel = false)
      try {
        val t0 = System.currentTimeMillis()
        val df = build
        val t1 = System.currentTimeMillis()
        val out = act(df)
        val t2 = System.currentTimeMillis()
        val phases = if (df == null) Map.empty[String, Double]
          else df.queryExecution.tracker.phases.map { case (k, v) => k -> v.durationMs.toDouble }
        spans.add(Span(g, kind, t0, t1, t2, phases))
        out
      } finally sc.clearJobGroup()
    }

    /** A call counted as attempted, and as failed if it throws. */
    private def attempt[T](what: String)(body: => T): Option[T] = {
      attempted.incrementAndGet()
      try Some(body)
      catch { case e: Throwable =>
        failed.incrementAndGet()
        System.err.println(s"[perfbench] $what failed: $e")
        None
      }
    }

    // ---- inputs (generated from the seed by the caller) -----------------
    private val docsPath = s"$dataDir/documents.parquet"
    private val vectors: Map[Long, (Int, Array[Float])] = spark.read.parquet(s"$dataDir/embeddings.parquet")
      .select(col("vec_id").cast("long"), col("label"), col("embedding").cast("array<float>"))
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getSeq[Float](2).toArray)).toMap
    private val stored = vectors.toSeq.sortBy(_._1).map(_._2._2).toIndexedSeq
    private lazy val vocab = spark.read.parquet(docsPath).select(col("text")).collect()
      .flatMap(_.getString(0).split(" ")).filter(_.length >= 3).distinct.sorted.toIndexedSeq
    phase("inputs loaded")

    // ---- set-up --------------------------------------------------------
    /** Cold build of the serving artifacts: the IVF-bucketed vector index,
      * its keymap and the embed16 index. IndexCatalog keys persisted
      * artifacts by the data path string, so the run reads the data through
      * a symlink of its own and builds from nothing. One set-up per run:
      * a second one does not fit the run budget. */
    private def setup() = {
      val alias = Paths.get(runDir, "sf")
      Files.createSymbolicLink(alias, Paths.get(dataDir).toAbsolutePath)
      val sf = alias.toString
      cacheKey = Some(IndexCatalog.cacheBase(sf))
      val t0 = System.nanoTime()
      val (vb, vn, cent) = unit("setup.ivf")(null)(_ => VectorOps.ensureIvfBucketed(spark, sf))
      val t1 = System.nanoTime()
      unit("setup.keymap")(null)(_ => IndexCatalog.ensureKeymap(spark, vb, vn, "vec_id"))
      val t2 = System.nanoTime()
      val layout = unit("setup.embed16")(null)(_ => EmbedIndex.ensure(spark, sf))
      val t3 = System.nanoTime()
      val split = Seq((t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9)
      phase(f"setup: ivf ${split(0)}%.2f keymap ${split(1)}%.2f embed16 ${split(2)}%.2f")
      (split, (sf, vb, vn, cent, layout))
    }

    /** Serve-path window, for the per-layer split of in-window requests. */
    @volatile private var window = (0L, Long.MaxValue)

    def execute(): String = {
      val (setupSplit, (sf, vb, vn, cent, layout)) = setup()
      val centroids = cent.select(col("cent_id"), col("c_embedding")).collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      val served = new Serving(vb, vn, layout, centroids)

      val (e2e, detail, batchOutputs, reads, writes, batch) = workload match {
        case "serve_read" => serveRead(served)
        case "batch_prep" => batchPrep(sf, served)
      }
      val metrics = Seq("setup_s" -> (setupSplit.sum, "s")) ++ e2e
      val reported =
        if (!traced) metrics
        else {
          tracer.drain()
          writeSpans(Paths.get(runDir).getParent.getParent.resolve("traces")
            .resolve(s"$workload-$seed.jsonl"))
          layerMetrics(reads, writes, batch, setupSplit) ++
            metrics.tail.map { case (k, v) => s"e2e.$k" -> v } :+
            ("ann.recall_at_10" -> (detail.getOrElse("recall_at_10", 0.0), "ratio"))
        }
      val outs = batchOutputs.map { case (q, d) => s"${jstr(q)}:${jstr(d)}" }.mkString("{", ",", "}")
      val det = (detail ++ Map("torn_retries" -> tornRetries.get().toDouble,
        "problems" -> problems.size.toDouble))
        .map { case (k, v) => s"${jstr(k)}:${fmt(v)}" }.mkString("{", ",", "}")
      s"""{"correct":${problems.isEmpty},"attempted":${attempted.get()},""" +
        s""""failed":${failed.get()},"metrics":${jsonMetrics(reported)},""" +
        s""""batch_outputs":$outs,"detail":$det}"""
    }

    /** The serve calls over one set-up's artifacts, and their checks. */
    private final class Serving(val vb: String, val vn: String, val layout: InvertedIndex.Layout,
                                centroids: Array[(Long, Array[Float])]) {
      import spark.implicits._

      def probesOf(q: Array[Float]): Seq[Long] =
        centroids.sortBy { case (cid, cv) => (-cosine(q, cv), cid) }.take(Probes).map(_._1).toSeq

      private def serve(req: Req): Seq[Seq[Any]] = req match {
        case Fetch(ids) => unit("fetch")(
          IndexCatalog.fetchByIdsServing(spark, vb, vn, ids.toDF("vec_id"))
            .select(col("vec_id"), col("label"), col("embedding")))(
          _.collect().map(r => Seq[Any](r.getLong(0), r.getInt(1), r.getSeq[Float](2))).toSeq)
        case Ann(q) => unit("ann") {
          val qn = KnnSearch.withNorm(Seq((-1L, q)).toDF("q_id", "q_embedding"), "q_embedding")
            .withColumnRenamed("vec_norm", "q_norm")
          KnnSearch.rankTopK(
            IndexCatalog.loadBuckets(spark, vb, vn, probesOf(q))
              .crossJoin(broadcast(qn))
              .withColumn("score", KnnSearch.prenormedScore)
              .select(col("vec_id"), col("score")),
            "vec_id", 10)
        }(_.collect().map(r => Seq[Any](r.getLong(0), r.getDouble(1))).toSeq)
        case Search(text) => unit("search")(
          EmbedIndex.embedOver(spark, layout, text, 5, serving = true))(
          _.collect().map(r => Seq[Any](r.getLong(0), r.getDouble(1))).toSeq)
      }

      /** One request under the torn-read contract (ServingCache.isTornRead):
        * a failure whose cause is a file deleted under the running plan is
        * re-planned against fresh listings, at most MaxTornRetries times,
        * and the retries' time stays in the request's latency. */
      def request(req: Req): Option[Done] = attempt(req.op) {
        val t0 = System.nanoTime()
        var tries = 0
        var rows: Seq[Seq[Any]] = null
        while (rows == null) {
          try rows = serve(req)
          catch {
            case e: Throwable if tries < MaxTornRetries && ServingCache.isTornRead(e) =>
              tries += 1
              tornRetries.incrementAndGet()
              Thread.sleep(50L * tries)
              ServingCache.dropStaleListings(spark)
          }
        }
        Done(req, t0, System.nanoTime(), rows)
      }

      /** fetch: the returned rows equal embeddings.parquet. */
      def checkFetch(d: Done): Unit = d.req match {
        case Fetch(ids) =>
          val got = d.rows.map(_.head.asInstanceOf[Long]).sorted
          if (got != ids.distinct.sorted) problem(s"fetch ${ids.mkString(",")} returned ${got.mkString(",")}")
          d.rows.foreach { r =>
            val (label, emb) = vectors(r.head.asInstanceOf[Long])
            if (r(1) != label || r(2).asInstanceOf[Seq[Float]] != emb.toSeq)
              problem(s"fetch row ${r.head} differs from embeddings.parquet")
          }
        case _ =>
      }

      /** The index's live rows: id -> (bucket, vector), checked against the
        * corpus. */
      def liveVectors(): Map[Long, (Long, Array[Float])] = {
        val live = IndexCatalog.load(spark, vb, vn)
          .select(col("vec_id"), col("bucket").cast("long"), col("embedding")).collect()
          .map(r => r.getLong(0) -> (r.getLong(1), r.getSeq[Float](2).toArray)).toMap
        if (live.keySet != vectors.keySet) problem(s"vector index holds ${live.size} live rows, want ${vectors.size}")
        live.foreach { case (id, (_, v)) =>
          if (!vectors.get(id).exists(_._2.sameElements(v))) problem(s"vector index row $id differs from the corpus")
        }
        live
      }

      /** ann: the served list is the exact top-10 of its probed buckets (to
        * the 6-decimal score grid); returns recall@10 against brute force. */
      def checkAnn(d: Done, live: Map[Long, (Long, Array[Float])]): Double = d.req match {
        case Ann(q) =>
          def score(v: Array[Float]) = math.rint(cosine(q, v) * 1e6) / 1e6
          val probes = probesOf(q).toSet
          val inProbe = live.toSeq.filter(e => probes.contains(e._2._1))
            .map { case (id, (_, v)) => (id, score(v)) }.sortBy { case (id, s) => (-s, id) }
          val kth = inProbe.take(10).last._2
          val got = d.rows.map(r => (r.head.asInstanceOf[Long], r(1).asInstanceOf[Double]))
          if (got.size != 10 || !got.forall { case (id, s) => live.contains(id) &&
              math.abs(score(live(id)._2) - s) <= 2e-6 && s >= kth - 2e-6 })
            problem(s"ann result is not the probed top-10: ${got.mkString(",")}")
          val exact = live.toSeq.map { case (id, (_, v)) => (id, score(v)) }
            .sortBy { case (id, s) => (-s, id) }.take(10).map(_._1).toSet
          got.count(g => exact.contains(g._1)) / 10.0
        case _ => 0.0
      }

      /** search: the served top-5 equals the unpruned oracle-shape plan. */
      def checkSearch(d: Done): Unit = d.req match {
        case Search(t) =>
          val want = EmbedIndex.embedUnprunedOver(spark, layout, t, 5, serving = true)
            .collect().map(r => Seq[Any](r.getLong(0), r.getDouble(1))).toSeq
          if (d.rows != want) problem(s"search '$t': ${d.rows.mkString(",")} != unpruned ${want.mkString(",")}")
        case _ =>
      }
    }

    // ---- serve_read ------------------------------------------------------

    private def serveRead(s: Serving) = {
      // fresh parameters for every request: unused texts of 3-5 corpus
      // words (the vocabulary is small, so texts are deduped within the
      // run), query vectors near seeded corpus vectors, uniform ids
      val used = ConcurrentHashMap.newKeySet[String]()
      val ids = vectors.keys.toIndexedSeq.sorted
      def next(r: Random, i: Int): Req = i % 3 match {
        case 0 => Fetch(Seq.fill(4)(ids(r.nextInt(ids.size))))
        case 1 => Ann(queryVector(r, stored))
        case _ =>
          var t = ""
          do t = Seq.fill(3 + r.nextInt(3))(vocab(r.nextInt(vocab.size))).mkString(" ")
          while (!used.add(t))
          Search(t)
      }
      /** Closed-loop readers for `secs` and at least `minEach` requests
        * each, every reader on its own parameter stream; returns the
        * completed requests. */
      def drive(secs: Double, stream: Int, minEach: Int): Seq[Done] = {
        val done = new ConcurrentLinkedQueue[Done]()
        val deadline = System.nanoTime() + (secs * 1e9).toLong
        val readers = (0 until Readers).map { tid =>
          val t = new Thread(() => {
            sc.setLocalProperty("spark.scheduler.pool", s"reader-$tid")
            val r = new Random(seed * 7919 + stream * Readers + tid)
            var i = 0
            while (System.nanoTime() < deadline || i < minEach) {
              s.request(next(r, i)).foreach(done.add)
              i += 1
            }
          })
          t.start(); t
        }
        readers.foreach(_.join())
        done.asScala.toSeq
      }
      // warm-up under the window's load, at least one rotation per reader:
      // builds the resident frames and takes the steepest part of the JIT
      // curve (request latencies fall by a third over the first ~20 s of
      // serving in a fresh JVM; a longer warm-up does not fit the run budget)
      drive(WarmSeconds, 1, 3)
      phase("warm-up done")
      val r0 = ServingCache.rebuildCount
      window = (System.currentTimeMillis(), System.currentTimeMillis() + (seconds * 1e3).toLong)
      val w0 = System.nanoTime()
      val all = drive(seconds, 0, 0)
      val rebuilds = ServingCache.rebuildCount - r0
      phase("timed window done")

      // throughput over the requests started in the window, up to the last
      // one's completion: a count over a whole window would step by ~10%
      val e2e = Seq(
        "p50_ms" -> (median(all.map(_.ms)), "ms"),
        "ops_per_s" -> (all.size / ((all.map(_.end).max - w0) / 1e9), "1/s"))
      // checks, outside the timed window: every fetch and ann, and a sample
      // of the searches (each check re-runs the query unpruned)
      Ops.foreach(op => if (!all.exists(_.req.op == op)) problem(s"no $op in the window"))
      val live = s.liveVectors()
      all.foreach(s.checkFetch)
      val recall = mean(all.filter(_.req.op == "ann").map(s.checkAnn(_, live)))
      if (recall < MinRecall) problem(f"ann recall@10 $recall%.3f < $MinRecall")
      all.filter(_.req.op == "search").take(SearchChecks).foreach(s.checkSearch)
      phase("checks done")
      (e2e, Map("reads" -> all.size.toDouble, "rebuilds" -> rebuilds.toDouble, "recall_at_10" -> recall),
        Seq.empty[(String, String)], all.map(d => d.req.op -> d.ms),
        Seq.empty[(String, Double)], Seq.empty[(String, Double)])
    }

    // ---- batch_prep ------------------------------------------------------

    /** Rounds of one caller until the deadline (the round in flight
      * completes). A round has three stages: a maintenance cycle on each
      * index (upsert TwinRows twin rows, delete them, vacuum), then the
      * LLM-data-prep query set, each query's output written for the DuckDB
      * oracle compare. `p50_ms` is the median stage latency: the stages
      * take similar times, while the median over the eleven unlike steps
      * and queries jumps between them from run to run. */
    private def batchPrep(sf: String, s: Serving) = {
      val (vb, vn, layout) = (s.vb, s.vn, s.layout)
      // twin rows: copies of the first TwinRows rows under ids past the
      // corpus domain
      val twinDocs = spark.read.parquet(docsPath).filter(col("doc_id") < TwinRows)
        .select((col("doc_id").cast("long") + InvertedIndex.UpsertIdOffset).as("doc_id"), col("text"))
        .localCheckpoint(true)
      val twinDocIds = twinDocs.select(col("doc_id")).localCheckpoint(true)
      val twinVecs = IndexCatalog.load(spark, vb, vn).filter(col("vec_id") < TwinRows)
        .select((col("vec_id") + InvertedIndex.UpsertIdOffset).as("vec_id"),
          col("label"), col("bucket"), col("embedding"))
        .localCheckpoint(true)
      val twinVecIds = twinVecs.select(col("vec_id")).localCheckpoint(true)
      val vecCycle: Seq[(String, () => Unit)] = Seq(
        "vec.upsert" -> (() => IndexCatalog.upsertInto(spark, vb, vn, twinVecs, "vec_id")),
        "vec.tombstone" -> (() => IndexCatalog.tombstone(spark, vb, vn, twinVecIds)),
        "vec.vacuum" -> (() => IndexCatalog.vacuumTombstones(spark, vb, vn)))
      val embedCycle: Seq[(String, () => Unit)] = Seq(
        "embed16.upsert" -> (() => InvertedIndex.upsertDocs(spark, layout, twinDocs)),
        "embed16.delete" -> (() => InvertedIndex.deleteDocs(spark, layout, twinDocIds)),
        "embed16.vacuum" -> (() => InvertedIndex.vacuum(spark, layout)))
      val outRoot = Paths.get(runDir, "batch-out")
      val queries: Seq[(String, () => Unit)] = BatchQueries.map { q =>
        q -> (() => SparkEntry.queries(q)(spark, sf).coalesce(1)
          .write.mode("overwrite").parquet(outRoot.resolve(q).toString))
      }
      val stages = Seq(vecCycle, embedCycle, queries)
      phase("twins prepared")

      val times = scala.collection.mutable.ArrayBuffer[(String, Double)]()
      val stageMs = scala.collection.mutable.ArrayBuffer[Double]()
      val w0 = System.nanoTime()
      val deadline = w0 + (seconds * 1e9).toLong
      window = (System.currentTimeMillis(), Long.MaxValue)
      var rounds = 0
      while (System.nanoTime() < deadline) {
        stages.foreach { stage =>
          val s0 = System.nanoTime()
          stage.foreach { case (name, f) =>
            val t0 = System.nanoTime()
            attempt(name)(unit(name)(null)(_ => f()))
              .foreach(_ => times += (name -> (System.nanoTime() - t0) / 1e9))
          }
          stageMs += (System.nanoTime() - s0) / 1e6
        }
        rounds += 1
      }
      val wall = (System.nanoTime() - w0) / 1e9
      window = (window._1, System.currentTimeMillis())
      phase(s"timed window done ($rounds rounds)")

      val e2e = Seq(
        "p50_ms" -> (median(stageMs.toSeq), "ms"),
        "ops_per_s" -> (times.size / wall, "1/s"))
      // checks: the vacuumed indexes serve no twin and the corpus intact
      // (the embed16 queries' oracle compare covers its index's contents)
      s.liveVectors()
      s.request(Ann(stored(0))).foreach { d =>
        if (d.rows.exists(_.head.asInstanceOf[Long] >= InvertedIndex.UpsertIdOffset))
          problem("ann returned a vacuumed twin id")
      }
      Files.writeString(outRoot.resolve("oracle_sql.json"), BatchQueries
        .map(q => s"${jstr(q)}:${jstr(SparkEntry.oracleSql(q))}").mkString("{", ",", "}"))
      phase("checks done")
      (e2e, Map("rounds" -> rounds.toDouble, "round_s" -> wall / rounds),
        BatchQueries.map(q => q -> outRoot.resolve(q).toString), Seq.empty[(String, Double)],
        times.filter(t => Writes.contains(t._1)).map(t => t._1 -> t._2 * 1e3).toSeq,
        times.filter(t => BatchQueries.contains(t._1)).toSeq)
    }

    // ---- per-layer report ----------------------------------------------

    /** Per-request means for the serve ops, per-call means for the
      * maintenance steps and batch queries; a layer the workload does not
      * exercise reads 0. */
    private def layerMetrics(reads: Seq[(String, Double)], writes: Seq[(String, Double)],
                             batch: Seq[(String, Double)], setup: Seq[Double]) = {
      val (w0, w1) = window
      val byKind = spans.asScala.toSeq
        .filter(s => !Ops.contains(s.kind) || (s.start >= w0 && s.start < w1)).groupBy(_.kind)
      def jobs(s: Span) = tracer.jobsOf(s.group)
      def task(s: Span, i: Int) = Option(tracer.tasks.get(s.group)).map(_(i).toDouble).getOrElse(0.0)
      def avg(kind: String)(f: Span => Double) = mean(byKind.getOrElse(kind, Nil).map(f))
      val serve = Ops.flatMap { op =>
        val ms = reads.filter(_._1 == op).map(_._2)
        Seq(
          s"$op.p50_ms" -> (median(ms), "ms"),
          s"$op.p90_ms" -> (pctl(ms, 0.9), "ms"),
          s"sources.$op.build_ms" -> (avg(op)(s => (s.built - s.start).toDouble), "ms"),
          s"sources.$op.exec_ms" -> (avg(op)(s => (s.end - s.built).toDouble), "ms"),
          s"catalyst.$op.analysis_ms" -> (avg(op)(_.phases.getOrElse("analysis", 0.0)), "ms"),
          s"catalyst.$op.optimization_ms" -> (avg(op)(_.phases.getOrElse("optimization", 0.0)), "ms"),
          s"catalyst.$op.planning_ms" -> (avg(op)(_.phases.getOrElse("planning", 0.0)), "ms"),
          s"sched.$op.jobs" -> (avg(op)(s => jobs(s).size.toDouble), "count"),
          s"sched.$op.tasks" -> (avg(op)(task(_, 0)), "count"),
          s"sched.$op.job_ms" -> (avg(op)(s => covered(jobs(s)).toDouble), "ms"),
          s"sched.$op.driver_gap_ms" -> (avg(op)(s => (s.end - s.start - covered(jobs(s))).toDouble), "ms"),
          s"sched.$op.task_ms" -> (avg(op)(task(_, 1)), "ms"),
          s"io.$op.input_bytes" -> (avg(op)(task(_, 2)), "bytes"),
          s"cache.$op.rebuilds" -> (byKind.getOrElse(op, Nil)
            .map(s => jobs(s).count(_.site.contains("ServingCache")).toDouble).sum, "count"))
      } :+ ("cache.torn_retries" -> (tornRetries.get().toDouble, "count"))
      val maint = Writes.flatMap { w =>
        Seq(
          s"sources.${w}_ms" -> (mean(writes.filter(_._1 == w).map(_._2)), "ms"),
          s"sched.$w.jobs" -> (avg(w)(s => jobs(s).size.toDouble), "count"),
          s"sched.$w.task_ms" -> (avg(w)(task(_, 1)), "ms"),
          s"io.$w.bytes_written" -> (avg(w)(task(_, 5)), "bytes"))
      }
      val setupSplit = Seq("setup.ivf_s", "setup.keymap_s", "setup.embed16_s").zip(setup)
        .map { case (k, v) => k -> (v, "s") }
      val ops = BatchQueries.flatMap { q =>
        Seq(
          s"operators.${q}_s" -> (mean(batch.filter(_._1 == q).map(_._2)), "s"),
          s"sched.$q.jobs" -> (avg(q)(s => jobs(s).size.toDouble), "count"),
          s"sched.$q.task_ms" -> (avg(q)(task(_, 1)), "ms"),
          s"io.$q.shuffle_bytes" -> (avg(q)(task(_, 3)), "bytes"),
          s"io.$q.spill_bytes" -> (avg(q)(task(_, 4)), "bytes"))
      }
      serve ++ maint ++ setupSplit ++ ops
    }

    private def writeSpans(path: Path): Unit = {
      Files.createDirectories(path.getParent)
      val lines = spans.asScala.toSeq.sortBy(_.start).map { s =>
        val js = tracer.jobsOf(s.group)
        s"""{"group":${jstr(s.group)},"kind":${jstr(s.kind)},"start_ms":${s.start},""" +
          s""""built_ms":${s.built},"end_ms":${s.end},"jobs":${js.size},""" +
          s""""job_ms":${covered(js)},"tasks":${Option(tracer.tasks.get(s.group)).map(_(0)).getOrElse(0L)},""" +
          s""""phases":${s.phases.map { case (k, v) => s"${jstr(k)}:${fmt(v)}" }.mkString("{", ",", "}")}}"""
      }
      Files.write(path, lines.asJava)
    }
  }
}
