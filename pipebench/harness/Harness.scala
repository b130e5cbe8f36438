package pipebench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, Executors}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Sort, Window}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.Tables
import graft.operators._
import graft.streaming.StreamPipelines

/** Benchmark harness: runs one workload against graft's public operators
  * and appends raw records (spans, jobs, stages, stream progress, pushes)
  * as JSON lines to `--raw`. All arithmetic on those records happens in
  * `metrics.py`, so this file only measures.
  *
  * Workloads: `ticks` (open-loop tick stream, then closed-loop dashboard
  * refreshes) and `curation` (closed-loop document curation and search).
  *
  * Modes:
  *   run   -- set up, then time for `--seconds` (the default)
  *   guard -- record Window/Sort node counts of each operation's own plan,
  *            of the timed action's plan and of a `count()` over it
  */
object Harness {

  // ---- raw record output ------------------------------------------------

  private val records = new ConcurrentLinkedQueue[String]()
  private val baseNanos = System.nanoTime()
  private val baseEpochMs = System.currentTimeMillis().toDouble

  /** Epoch milliseconds with sub-millisecond digits, on the monotonic clock. */
  def now(): Double = baseEpochMs + (System.nanoTime() - baseNanos) / 1e6

  private def json(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case b: Boolean => b.toString
    case n: Number => n.toString
    case m: Map[_, _] => m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(json).mkString("[", ",", "]")
    case o => json(o.toString)
  }

  def emit(kind: String, fields: (String, Any)*): Unit =
    records.add(json(Map("type" -> kind) ++ fields))

  // ---- options ------------------------------------------------------------

  final case class Opts(mode: String, workload: String, data: String, raw: String,
      work: String, seconds: Double, trace: Boolean, cores: Int, spawnMs: Double,
      seed: Long, verifyOut: Option[String], verifyQueries: Seq[String],
      verifiedOps: Set[String])

  private def parse(args: Array[String]): Opts = {
    val kv = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def req(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(kv.getOrElse("mode", "run"), req("workload"), req("data"), req("raw"), req("work"),
      kv.getOrElse("seconds", "10").toDouble, kv.getOrElse("trace", "0") == "1",
      req("cores").toInt, kv.getOrElse("spawn-ms", now().toString).toDouble,
      kv.getOrElse("seed", "0").toLong, kv.get("verify-out"),
      kv.get("verify-queries").toSeq.flatMap(_.split(",")).filter(_.nonEmpty),
      kv.get("verified-ops").toSeq.flatMap(_.split(",")).filter(_.nonEmpty).toSet)
  }

  // ---- session ----------------------------------------------------------

  /** Session settings follow graft.Bench (AQE on, UTC, nanosAsLong), sized
    * to this machine instead of Bench's fixed 32 slots. */
  def session(o: Opts): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName(s"pipebench-${o.workload}")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.cleaner.periodicGC.interval", "1min")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.register(spark)
    spark
  }

  private def cleanup(spark: SparkSession): Unit = {
    Ema.unpersistAll()
    spark.catalog.clearCache()
  }

  // ---- tracing ----------------------------------------------------------

  /** Records every job and completed stage whose job group is an
    * operation span id. Attached only to traced passes. */
  final class Tracer extends SparkListener {
    private val stageGroup = new ConcurrentHashMap[Int, String]()
    private val jobs = new ConcurrentHashMap[Int, (String, Long)]()

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      if (g != null && g.startsWith("op-")) {
        jobs.put(e.jobId, (g, e.time))
        e.stageIds.foreach(stageGroup.put(_, g))
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.remove(e.jobId)).foreach { case (g, t0) =>
        emit("job", "group" -> g, "t0" -> t0, "t1" -> e.time,
          "ok" -> (e.jobResult == JobSucceeded))
      }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      Option(stageGroup.get(info.stageId)).foreach { g =>
        val m = info.taskMetrics
        emit("stage", "group" -> g, "tasks" -> info.numTasks,
          "cpu_ns" -> m.executorCpuTime, "gc_ms" -> m.jvmGCTime,
          "shuffle_write" -> m.shuffleWriteMetrics.bytesWritten,
          "spill" -> (m.memoryBytesSpilled + m.diskBytesSpilled),
          "input" -> m.inputMetrics.bytesRead)
      }
    }
  }

  private val spanSeq = new AtomicLong()
  private def nextSpan(): String = s"op-${spanSeq.incrementAndGet()}"

  /** One call into a layer; `build` returns the operation's DataFrame. */
  final case class Op(layer: String, fn: String, build: () => DataFrame) {
    def name: String = s"$layer.$fn"
  }

  /** One pass of closed-loop operations, each timed as a `build` span (the
    * call that returns the DataFrame) and a `run` span (a noop write that
    * materializes every column). Tracing attaches the listener and tags
    * each operation's jobs with its span id as job group. `clean` releases
    * the pass's persisted intermediates at its end. */
  def runPass(spark: SparkSession, pass: Int, traced: Boolean, ops: Seq[Op],
      clean: Boolean = true): Unit = {
    val sc = spark.sparkContext
    val tracer = if (traced) Some(new Tracer) else None
    tracer.foreach(sc.addSparkListener)
    val passId = s"pass-$pass"
    val p0 = now()
    try ops.foreach { op =>
      val id = nextSpan()
      if (traced) sc.setJobGroup(id, op.name, interruptOnCancel = false)
      val t0 = now()
      var tb = Double.NaN
      var rows = -1L
      var err: (String, String) = null
      try {
        val df = op.build()
        tb = now()
        val obs = Observation(s"rows-$id")
        df.observe(obs, count(lit(1)).as("rows"))
          .write.format("noop").mode("overwrite").save()
        rows = obs.get("rows").asInstanceOf[Long]
      } catch {
        case e: Exception => err = (e.getClass.getName, String.valueOf(e.getMessage).take(500))
      } finally if (traced) sc.clearJobGroup()
      val t1 = now()
      emit("span", "id" -> id, "parent" -> passId, "kind" -> "op", "name" -> op.name,
        "layer" -> op.layer, "pass" -> pass, "traced" -> traced, "t0" -> t0,
        "tb" -> (if (tb.isNaN) t1 else tb), "t1" -> t1, "ok" -> (err == null),
        "rows" -> (if (err == null) rows else null),
        "error_class" -> Option(err).map(_._1).orNull,
        "error" -> Option(err).map(_._2).orNull)
    } finally {
      val p1 = now()
      if (traced) {
        // what persisted intermediates and checkpoints still hold, before cleanup
        val held = sc.getRDDStorageInfo.filter(i => i.memSize + i.diskSize > 0)
        emit("storage", "pass" -> pass, "blocks" -> held.map(_.numCachedPartitions).sum,
          "bytes" -> held.map(i => i.memSize + i.diskSize).sum)
        org.apache.spark.PipebenchAccess.drainListeners(sc)
      }
      tracer.foreach(sc.removeSparkListener)
      emit("span", "id" -> passId, "kind" -> "pass", "pass" -> pass, "traced" -> traced,
        "t0" -> p0, "t1" -> p1)
      if (clean) cleanup(spark)
    }
  }

  // ---- workloads ----------------------------------------------------------

  def dashboardOps(spark: SparkSession, dir: String): Seq[Op] = {
    val ev = Tables.events(spark, dir)
    val bars = Bars.ohlcv(ev)
    def ind(fn: String, f: DataFrame => DataFrame) = Op("indicators", fn, () => f(bars))
    Seq(
      Op("bars", "ohlcv", () => Bars.ohlcv(ev)),
      ind("sma", Indicators.sma), ind("bollinger", Indicators.bollinger),
      ind("rsi", Indicators.rsi), ind("atr", Indicators.atr),
      ind("stochastic", Indicators.stochastic), ind("vwap", Indicators.vwap),
      ind("momentum", Indicators.momentum), ind("summaryStats", Indicators.summaryStats),
      ind("latestMetrics", Indicators.latestMetrics), ind("weeklyRange", Indicators.weeklyRange),
      ind("volumeHeatmap", Indicators.volumeHeatmap),
      Op("ema", "macd", () => Ema.macd(bars)),
      Op("relational", "dedupLatest", () => Relational.dedupLatest(ev)),
      Op("relational", "latestTs", () => Relational.latestTs(ev)),
      Op("relational", "fetchGuard", () => Relational.fetchGuard(ev)))
  }

  def curationOps(spark: SparkSession, dir: String, batches: Seq[DataFrame]): Seq[Op] = {
    val docs = Tables.documents(spark, dir)
    val emb = Tables.embeddings(spark, dir)
    Seq(
      Op("dedup", "exactDocs", () => Dedup.exactDocs(docs)),
      Op("training", "exportPlan", () => TrainingData.exportPlan(docs)),
      Op("similarity", "semDedup", () => Similarity.semDedup(emb))) ++
      batches.map(q => Op("similarity", "annIvfPqFor", () => Similarity.annIvfPqFor(emb, q)))
  }

  /** The seeded query batches the generator wrote, one frame per batch. */
  def searchBatches(spark: SparkSession, dir: String): Seq[DataFrame] = {
    val q = spark.read.parquet(s"$dir/queries.parquet")
    val n = q.agg(max(col("batch"))).head().getInt(0) + 1
    (0 until n).map(b => q.filter(col("batch") === b).select(col("vec_id"), col("embedding")))
  }

  /** Timed passes after the untimed warm-up pass 0. */
  def closedLoop(spark: SparkSession, o: Opts, ops: => Seq[Op]): Unit = {
    val start = now()
    var pass = 1
    // a traced run alternates untraced and traced passes, at least
    // untraced-traced-untraced, so the same run also measures what tracing
    // costs without the warm-up trend favouring either side
    while (pass == 1 || (o.trace && pass <= 3) || now() - start < o.seconds * 1000) {
      System.gc() // untimed: no pass inherits the garbage of what ran before it
      runPass(spark, pass, traced = o.trace && pass % 2 == 0, ops)
      pass += 1
    }
  }

  // ---- stream -------------------------------------------------------------

  val PushesPerSecond = 20
  val TicksPerPush = 50
  val Drains = 2
  val DrainTicks = 3000
  val WarmupPushes = 2

  final class Feed(dir: Path, msgs: Array[String]) {
    private var next = 0
    private var seq = 0
    Files.createDirectories(dir)
    /** Write the next `n` messages as one file, atomically visible. */
    def push(n: Int, phase: String, dueMs: Double): Unit = {
      require(next + n <= msgs.length, s"stream input exhausted after $next ticks")
      val name = f"push-$seq%06d.json"
      val tmp = dir.resolve("." + name)
      Files.write(tmp, msgs.slice(next, next + n).mkString("", "\n", "\n").getBytes(UTF_8))
      Files.move(tmp, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
      emit("push", "seq" -> seq, "file" -> name, "phase" -> phase, "ticks" -> n,
        "due" -> dueMs, "done" -> now())
      next += n; seq += 1
    }
    def pushed: Int = next
  }

  final class Progress extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      e.exception.foreach(x => emit("stream_error", "error" -> x.take(500)))
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      emit("progress", "query" -> p.name, "batch" -> p.batchId,
        "start" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
        "rows" -> p.numInputRows, "dur" -> d,
        "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum,
        "state_mem" -> p.stateOperators.map(_.memoryUsedBytes).sum)
    }
  }

  final class Queries(spark: SparkSession, root: Path, tag: String) {
    val in: Path = root.resolve("in")
    val out: Path = root.resolve("out")
    Files.createDirectories(in)
    private val msgs = spark.readStream.text(in.toString).select(col("value").as("msg"))
    val props = StreamPipelines.propsWindowAggStream(msgs).writeStream
      .format("memory").queryName(s"props_$tag").outputMode("append")
      .option("checkpointLocation", root.resolve("ckpt-props").toString).start()
    val sink = StreamPipelines.parseJsonFeed(msgs).writeStream
      .queryName(s"sink_$tag")
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val t0 = now()
        StreamPipelines.dualWriteBatch(batch, id, out.toString)
        emit("span", "kind" -> "sink", "name" -> "sinks.dualWriteBatch", "batch" -> id,
          "query" -> tag, "t0" -> t0, "t1" -> now())
      }
      .option("checkpointLocation", root.resolve("ckpt-sink").toString).start()
    def settle(): Unit = { props.processAllAvailable(); sink.processAllAvailable() }
    def stop(): Unit = { props.stop(); sink.stop() }
  }

  final class Stream(spark: SparkSession, o: Opts) {
    // in event-id order, which is ts order: event time advances with the
    // feed and the watermark closes windows
    private val msgs = Files.readAllLines(Paths.get(o.data, "msgs.jsonl")).asScala.toArray
    private val root = Paths.get(o.work).resolve("stream")
    spark.streams.addListener(new Progress)

    /** The same two queries on a few pushes, then stopped. */
    def warmUp(): Int = {
      val warm = new Queries(spark, root.resolve("warm"), "warm")
      val feed = new Feed(warm.in, msgs)
      (0 until WarmupPushes).foreach(_ => feed.push(TicksPerPush, "warm", now()))
      warm.settle(); warm.stop()
      feed.pushed
    }

    /** Open-loop pushes for `o.seconds`, then timed drains, then checks. */
    def run(skip: Int): Unit = {
      val q = new Queries(spark, root.resolve("run"), "run")
      val feed = new Feed(q.in, msgs.drop(skip))
      emit("stream_run", "props_ckpt" -> root.resolve("run/ckpt-props").toString,
        "sink_ckpt" -> root.resolve("run/ckpt-sink").toString)
      // push k is due at start + k/rate, whether or not the queries kept
      // up; how late the generator ran is recorded per push
      val pushes = (o.seconds * PushesPerSecond).toInt
      System.gc()
      val start = now() + 50
      val gen = new Thread(() => (0 until pushes).foreach { k =>
        val due = start + k * 1000.0 / PushesPerSecond
        val wait = due - now()
        if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
        feed.push(TicksPerPush, "rate", due)
      }, "pipebench-generator")
      gen.start(); gen.join()
      q.settle()
      // drains: a fixed backlog pushed at once, timed until both queries commit it
      (1 to Drains).foreach { d =>
        val t0 = now()
        feed.push(DrainTicks, "drain", t0)
        q.settle()
        emit("span", "kind" -> "drain", "pass" -> d, "t0" -> t0, "t1" -> now(), "ticks" -> DrainTicks)
      }
      q.stop()

      // correctness: every pushed tick reached the raw sink, and every
      // window the stream emitted equals its batch twin over the same ticks
      val raw = spark.read.parquet(q.out.resolve("raw").toString).count()
      emit("check", "name" -> "stream.raw_rows", "ok" -> (raw == feed.pushed),
        "detail" -> s"raw sink rows $raw, pushed ${feed.pushed}")
      val fed = Tables.events(spark, o.data).filter(
        col("event_id") >= skip && col("event_id") < skip + feed.pushed)
      val twin = StreamPipelines.propsWindowAgg(fed)
      val got = spark.table("props_run")
      val emitted = got.count()
      val diff = got.exceptAll(twin).count()
      emit("check", "name" -> "stream.props_windows", "ok" -> (emitted > 0 && diff == 0),
        "detail" -> s"$emitted windows emitted, $diff differ from the batch twin")
    }
  }

  // ---- guard --------------------------------------------------------------

  private def shape(p: LogicalPlan): (Int, Int) =
    (p.collectWithSubqueries { case w: Window => w }.size,
      p.collectWithSubqueries { case s: Sort => s }.size)

  /** For each operation: Window/Sort nodes of its own optimized plan, of
    * the timed action's optimized plan, and of `count()` over it. */
  def guard(spark: SparkSession, ops: Seq[Op]): Unit = {
    @volatile var last: QueryExecution = null
    val l = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = last = qe
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    ops.foreach { op =>
      val df = op.build()
      val own = shape(df.queryExecution.optimizedPlan)
      last = null
      df.observe(Observation(s"guard-${nextSpan()}"), count(lit(1)).as("rows"))
        .write.format("noop").mode("overwrite").save()
      org.apache.spark.PipebenchAccess.drainListeners(spark.sparkContext)
      val timed = shape(last.optimizedPlan)
      val counted = shape(df.groupBy().count().queryExecution.optimizedPlan)
      emit("guard", "name" -> op.name, "own_windows" -> own._1, "own_sorts" -> own._2,
        "timed_windows" -> timed._1, "timed_sorts" -> timed._2,
        "count_windows" -> counted._1, "count_sorts" -> counted._2)
      cleanup(spark)
    }
    spark.listenerManager.unregister(l)
  }

  // ---- verification -------------------------------------------------------

  /** Recall@5 inputs: the IVF-PQ and exact top-5 of one query batch. */
  def searchResults(spark: SparkSession, o: Opts, batch: Int): Unit = {
    val emb = Tables.embeddings(spark, o.data)
    val q = searchBatches(spark, o.data)(batch)
    def ids(df: DataFrame) = df.select("q_id", "nn_id").collect()
      .map(r => Seq(r.getLong(0), r.getLong(1))).toSeq
    emit("search", "batch" -> batch, "ann" -> ids(Similarity.annIvfPqFor(emb, q)),
      "exact" -> ids(Similarity.annBruteforceFor(emb, q)))
  }

  /** One query of the oracle dump graft.Verify writes for tools/check.py:
    * the same graft.SparkEntry query, written the same way (timestamps as
    * TIMESTAMP_NTZ, one parquet file per query). A failure is recorded
    * as a failed check; tools/check.py then also reports the missing output. */
  def dumpQuery(spark: SparkSession, o: Opts, out: String, q: String): Unit =
    try {
      val df = graft.SparkEntry.queries(q)(spark, o.data)
      val cols = df.schema.fields.map { f =>
        f.dataType match {
          case TimestampType => col(f.name).cast(TimestampNTZType).as(f.name)
          case _ => col(f.name)
        }
      }
      df.select(cols.toIndexedSeq: _*).coalesce(1).write.mode("overwrite").parquet(s"$out/$q")
    } catch {
      case e: Exception => emit("check", "name" -> s"verify.$q", "ok" -> false,
        "detail" -> s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(500)}")
    }

  /** Runs the untimed set-up tasks `threads` at a time. They are all cold
    * start (class loading, code generation, JIT warm-up), which parallel
    * callers shorten; no timed work runs in parallel. */
  def inParallel(threads: Int, tasks: Seq[() => Unit]): Unit = {
    val pool = Executors.newFixedThreadPool(threads)
    try tasks.map(t => pool.submit(new Runnable { def run(): Unit = t() })).foreach(_.get())
    finally pool.shutdownNow()
  }

  /** Lowers VmHWM to the current resident size, so the peak read at the
    * end is that of the timed work (and of what the set-up left resident),
    * not of the parallel warm-up's transient peak. */
  private def resetPeakRss(): Boolean =
    scala.util.Try(Files.write(Paths.get("/proc/self/clear_refs"), "5".getBytes(UTF_8))).isSuccess

  private def vmHwmMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    var code = 0
    try {
      val spark = session(o)
      emit("env", "cores" -> o.cores, "heap_bytes" -> Runtime.getRuntime.maxMemory,
        "spark" -> spark.version, "jdk" -> System.getProperty("java.version"),
        "seed" -> o.seed, "workload" -> o.workload, "trace" -> o.trace,
        "session_s" -> (now() - o.spawnMs) / 1000.0)
      def ops = o.workload match {
        case "ticks" => dashboardOps(spark, o.data)
        case "curation" => curationOps(spark, o.data, searchBatches(spark, o.data))
      }
      o.mode match {
        case "guard" => guard(spark, ops)
        case _ =>
          // ticks: the stream ingests ticks, then the dashboard refreshes
          val stream = if (o.workload == "ticks") Some(new Stream(spark, o)) else None
          @volatile var skip = 0
          // The warm-up, in parallel: the stream queries on a few pushes;
          // the recall@5 inputs of every search batch; the oracle dump,
          // which runs every operation of the workload that has an oracle;
          // and pass 0, one task per operation: the first operation, so
          // the timed write path is warm, and every one the dump does not
          // cover. Longer tasks go first, so the warm-up ends sooner.
          val all = ops
          val warmStream = stream.toSeq.map(s => () => { skip = s.warmUp() })
          val searches = if (o.workload == "curation")
            searchBatches(spark, o.data).indices.map(b => () => searchResults(spark, o, b)) else Nil
          val dumps = o.verifyOut.toSeq.flatMap(out => o.verifyQueries.map(q => () => dumpQuery(spark, o, out, q)))
          val pass0 = (all.head +: all.tail.filterNot(op => o.verifiedOps.contains(op.name)))
            .map(op => () => runPass(spark, 0, traced = false, Seq(op), clean = false))
          // graft.Verify's session writes the dump with this setting
          spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
          inParallel(o.cores, warmStream ++ searches ++ dumps ++ pass0)
          spark.conf.unset("spark.sql.parquet.outputTimestampType")
          o.verifyOut.foreach { out =>
            Files.createDirectories(Paths.get(out))
            Files.write(Paths.get(out, "oracle_sql.json"), json(graft.SparkEntry.oracleSql).getBytes(UTF_8))
          }
          cleanup(spark)
          emit("setup", "s" -> (now() - o.spawnMs) / 1000.0, "rss_reset" -> resetPeakRss())
          stream.foreach(_.run(skip))
          closedLoop(spark, o, ops)
          emit("rss", "peak_mb" -> vmHwmMb())
      }
    } catch {
      case e: Throwable =>
        emit("fatal", "error_class" -> e.getClass.getName, "error" -> String.valueOf(e.getMessage).take(2000))
        e.printStackTrace()
        code = 1
    } finally {
      Files.write(Paths.get(o.raw), records.asScala.mkString("", "\n", "\n").getBytes(UTF_8))
      SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession).foreach(_.stop())
    }
    System.exit(code)
  }
}
