package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery

import graft.SparkEntry
import graft.api.GraftPipelines
import graft.streaming.EventStreaming

/** Closed-loop benchmark: one client; the next operation starts
  * when the previous one has finished.
  *
  * {{{
  * Main --workload W --seed N --seconds S --trace 0|1 --cores N
  *      --data DIR --work DIR --out FILE
  * }}}
  *
  * A run sets up once, from the JVM's start (so set-up carries JVM start,
  * JIT and code-generation compiles), then measures operations for
  * `--seconds` seconds in whole passes over the workload's mix (or in
  * streaming triggers), checks the outputs untimed on the same session,
  * and writes its report to `--out`. `--data` is the directory of the
  * workload's parquet tables. With `--trace 1`, passes alternate
  * between untraced and traced, and the traced ones produce the
  * per-layer counters (see [[Tracer]]). The seed fixes the order of each
  * pass and the streaming batches; it never reaches the engine.
  */
object Main {
  val Control = "rel_q1_pricing"
  /** Untimed warm-up passes (batch; the JIT is still tiering code up
    * after the first) and add/delete triggers (stream) at the end of
    * set-up, so the window measures the steady state. */
  val WarmPasses = 2
  val WarmTriggers = 1

  /** Batch mixes: SparkEntry queries, each with a DuckDB oracle.
    * `event_scan` holds the reference's interactive instance query,
    * sessionizing, and three serial executor-CPU queries: the JSON and
    * uint64 property decodes and the exact-decimal pricing aggregate. Its
    * median operation is one of those three. A mix is kept small enough
    * that set-up and the timed window fit in well under a minute on 4
    * cores. */
  val mixes: Map[String, Seq[String]] = Map(
    "event_scan" -> Seq(
      "ev_flagship", "ev_sessionize", "ev_decode_all", "ev_uint64_decode",
      "rel_q1_pricing"),
    "llm_curate" -> Seq(
      "llm_dup_clusters", "llm_embed_kmeans", "llm_ppjoin",
      "llm_minhash_pairs", "llm_fuzzy_pairs", "llm_ppjoin_served",
      "llm_dup_clusters_served", "llm_embed_ivf_served"))

  // stream_upsert: the store starts with StoreDocs documents; every
  // trigger adds BatchAdds fresh ones and deletes BatchDels seeded ones.
  // The store's bucket count follows the core count, as the shuffle
  // partition count does.
  val StoreDocs = 500
  val BatchAdds = 200
  val BatchDels = 20

  final case class Args(workload: String, seed: Long, seconds: Int,
      trace: Boolean, cores: Int, data: String, work: String, out: String)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing $k"))
    Args(need("--workload"), need("--seed").toLong, need("--seconds").toInt,
      need("--trace") == "1", need("--cores").toInt, need("--data"),
      need("--work"), need("--out"))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    require(a.workload == "stream_upsert" || mixes.contains(a.workload),
      s"unknown workload ${a.workload}")
    val report =
      if (a.workload == "stream_upsert") new StreamRun(a).run()
      else new BatchRun(a, mixes(a.workload)).run()
    Files.writeString(Paths.get(a.out), json(report) + "\n")
  }

  private val mapper = JsonMapper.builder().addModule(DefaultScalaModule).build()

  def json(v: Any): String = mapper.writeValueAsString(v)

  def newSession(a: Args): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def secs(ns: Long): Double = ns / 1e9

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = (lo + 1).min(s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  /** Heap in use after full collections. Spark frees cached and
    * checkpointed blocks from a cleaner thread once their owners are
    * collected, so collect until the figure stops falling. */
  def retainedHeapMb(): Double = {
    def used() = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var last = used()
    var i = 0
    while (i < 10) {
      Thread.sleep(200)
      val now = used()
      if (now > last * 0.99) i = 10
      last = last.min(now)
      i += 1
    }
    last
  }

  /** The JVM's start, on the `System.nanoTime` clock: set-up is timed
    * from here. */
  def jvmStartNs(): Long = System.nanoTime() -
    ManagementFactory.getRuntimeMXBean.getUptime * 1000000L

  def endToEnd(latS: Seq[Double], wallS: Double, setupS: Double,
      heapMb: Double): Map[String, Any] = Map(
    "latency_p50_s" -> median(latS),
    "ops_per_s" -> latS.size / wallS,
    "retained_heap_mb" -> heapMb,
    "setup_s" -> setupS)

  /** Per-layer metrics over the traced operations: per-operation means,
    * or shares (`_frac`) of summed totals. An operation's wall time
    * leaves out the tracer's own plan call (see [[Tracer.span]]). A time
    * that a layer may not spend at all on a workload (GC, fetch wait,
    * compiles, streaming phases) is reported as a share, so every `_s`
    * metric is a measured, non-zero time on every workload, but
    * `planner.analysis_s` of a batch query: its `noop` write analyses an
    * already analysed plan. */
  def perLayer(ops: Seq[OpStats], cores: Int, store: (Double, Double),
      overhead: Double): Map[String, Any] = {
    val n = ops.size.max(1).toDouble
    def mean(f: OpStats => Double) = ops.map(f).sum / n
    def share(num: OpStats => Double, den: OpStats => Double) = {
      val d = ops.map(den).sum
      if (d > 0) ops.map(num).sum / d else 0.0
    }
    val wall: OpStats => Double = o => secs(o.wallNs)
    val run: OpStats => Double = _.runMs / 1e3
    val mb = 1048576.0
    // streaming shares are of the trigger time the engine reports
    def ofTrigger(ms: OpStats => Double) =
      share(ms, _.durations.getOrElse("triggerExecution", 0L).toDouble)
    Map[String, Any](
      "operators.build_s" -> mean(o => secs(o.buildNs)),
      "operators.eager_jobs" -> mean(_.eagerJobs.toDouble),
      "operators.out_rows" -> mean(_.resultRows.toDouble),
      "operators.yield" -> share(_.resultRows.toDouble, _.maxNodeRows.toDouble),
      "planner.plan_s" -> mean(o => secs(o.planNs)),
      "planner.analysis_s" -> mean(_.analysisMs / 1e3),
      "planner.optimization_s" -> mean(_.optimizationMs / 1e3),
      "planner.planning_s" -> mean(_.planningMs / 1e3),
      "codegen.compile_frac" -> share(o => secs(o.compileNs), wall),
      "codegen.compiles" -> mean(_.compiles.toDouble),
      "scheduler.jobs" -> mean(_.jobs.toDouble),
      "scheduler.stages" -> mean(_.stages.toDouble),
      "scheduler.stages_skipped" -> mean(_.stagesSkipped.toDouble),
      "scheduler.tasks" -> mean(_.tasks.toDouble),
      "scheduler.tasks_failed" -> mean(_.tasksFailed.toDouble),
      "scheduler.driver_gap_s" -> mean(o =>
        (wall(o) - o.jobBusyMs / 1e3).max(0.0)),
      "scheduler.task_wait_s" -> mean(_.taskWaitMs / 1e3),
      "executor.run_s" -> mean(run),
      "executor.cpu_s" -> mean(o => secs(o.cpuNs)),
      "executor.gc_frac" -> share(_.gcMs / 1e3, run),
      "executor.deser_s" -> mean(_.deserMs / 1e3),
      "executor.peak_mem_mb" -> ops.map(_.peakMem / mb).maxOption.getOrElse(0.0),
      "executor.busy_frac" -> share(run, o => wall(o) * cores),
      "executor.rows_per_cpu_s" -> share(_.inRows.toDouble, o => secs(o.cpuNs)),
      "shuffle.write_mb" -> mean(_.shWrite / mb),
      "shuffle.read_mb" -> mean(_.shRead / mb),
      "shuffle.records" -> mean(_.shRecords.toDouble),
      "shuffle.fetch_wait_frac" -> share(_.fetchWaitMs / 1e3, run),
      "shuffle.spill_mb" -> mean(_.spill / mb),
      "shuffle.task_skew" -> mean(_.skew),
      "io.input_mb" -> mean(_.inBytes / mb),
      "io.input_rows" -> mean(_.inRows.toDouble),
      "io.output_mb" -> mean(_.outBytes / mb),
      "io.output_rows" -> mean(_.outRows.toDouble),
      "streaming.trigger_frac" -> share(
        _.durations.getOrElse("triggerExecution", 0L) / 1e3, wall),
      "streaming.add_batch_frac" -> ofTrigger(_.durations.getOrElse("addBatch", 0L).toDouble),
      "streaming.query_planning_frac" ->
        ofTrigger(_.durations.getOrElse("queryPlanning", 0L).toDouble),
      "streaming.wal_commit_frac" -> ofTrigger(_.durations.getOrElse("walCommit", 0L).toDouble),
      "streaming.jobs_per_trigger" ->
        (if (ops.exists(_.durations.nonEmpty)) mean(_.jobs.toDouble) else 0.0),
      "streaming.store_mb" -> store._1,
      "streaming.store_files" -> store._2,
      "streaming.write_amp" -> share(_.outBytes.toDouble, _.payloadBytes.toDouble),
      "trace.overhead_frac" -> overhead) ++
      Tracer.Phases.map(p => s"streaming.phase.${p}_frac" ->
        ofTrigger(_.phaseMs.getOrElse(p, 0L).toDouble))
  }

  /** Writes the spans and per-operation counters of a traced run. */
  def writeTrace(a: Args, tracer: Tracer): Unit =
    Files.writeString(Paths.get(s"${a.work}/trace.json"), json(Map(
      "spans" -> tracer.spans,
      "ops" -> tracer.ops.toSeq.map(o =>
        Map("op" -> o.id, "name" -> o.name) ++ o.deterministic))) + "\n")
}

/** A batch workload: a mix of SparkEntry queries, each forced end to end
  * with a `noop` write. */
final class BatchRun(a: Main.Args, mix: Seq[String]) {
  import Main._

  private var spark: SparkSession = _
  private val execFailed = mutable.Set.empty[String]

  private def build(q: String): DataFrame =
    SparkEntry.queries(q)(spark, a.data)

  private def noop(df: DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  private def timedNs(f: => Unit): Long = {
    val t0 = System.nanoTime(); f; System.nanoTime() - t0
  }

  /** One untraced operation; its latency, or None if it failed. */
  private def op(q: String): Option[Long] =
    try Some(timedNs(noop(build(q))))
    catch {
      case e: Exception =>
        System.err.println(s"[perfbench] $q failed: $e")
        execFailed += q
        None
    }

  private def tracedOp(tracer: Tracer, q: String): Option[Long] = {
    val o = tracer.begin(q)
    try {
      val df = tracer.span(o, "build")(build(q))
      tracer.span(o, "plan")(df.queryExecution.executedPlan)
      tracer.span(o, "execute")(noop(df))
      Some(o.wallNs)
    } catch {
      case e: Exception =>
        System.err.println(s"[perfbench] $q failed: $e")
        execFailed += q
        None
    } finally tracer.end(o)
  }

  private def order(salt: Long): Seq[String] =
    new Random(a.seed * 1000003L + salt).shuffle(mix)

  /** Writes a query's output where the oracle comparison reads it. */
  private def dumpForCheck(q: String): Unit =
    try build(q).coalesce(1).write.mode("overwrite")
      .parquet(s"${a.work}/check/$q")
    catch {
      case e: Exception =>
        System.err.println(s"[perfbench] $q failed: $e")
        execFailed += q
    }

  def run(): Map[String, Any] = {
    val unchecked = mix.filterNot(SparkEntry.oracleSql.contains)
    require(unchecked.isEmpty, s"no oracle for ${unchecked.mkString(",")}")
    // set-up: session start and untimed passes (served queries build
    // their write-once indexes in the first)
    val t0 = jvmStartNs()
    spark = newSession(a)
    val ts = System.nanoTime()
    val warm = (1 to WarmPasses).map(w => order(-w).map { q =>
      val t = System.nanoTime()
      op(q)
      q -> secs(System.nanoTime() - t)
    }.toMap)
    val setup = secs(System.nanoTime() - t0)

    val tracer = if (a.trace) Some(new Tracer(spark)) else None
    val lat = mutable.ArrayBuffer.empty[(String, Double)]
    val opCounts = mutable.Map.empty[String, Int].withDefaultValue(0)
    val passWall = mutable.ArrayBuffer.empty[(Boolean, Double)]
    val controls = mutable.ArrayBuffer.empty[Double]
    def control(): Unit = op(Control).foreach(ns => controls += secs(ns))
    var attempted = 0
    var wall = 0.0
    var pass = 0
    control()
    // whole passes until the time is up; a traced run alternates
    // untraced and traced passes and needs at least one of each
    while (wall < a.seconds || (a.trace && pass < 2)) {
      val traced = tracer.isDefined && pass % 2 == 1
      tracer.filter(_ => traced).foreach(_.attach())
      val t0 = System.nanoTime()
      order(pass).foreach { q =>
        attempted += 1
        opCounts(q) += 1
        val ns = if (traced) tracedOp(tracer.get, q) else op(q)
        if (!traced) ns.foreach(x => lat += q -> secs(x))
      }
      val pw = secs(System.nanoTime() - t0)
      tracer.filter(_ => traced).foreach(_.detach())
      if (!traced) wall += pw
      passWall += ((traced, pw))
      pass += 1
      control()
    }
    val heap = retainedHeapMb()
    val overhead = {
      val (tr, un) = passWall.partition(_._1)
      if (tr.isEmpty || un.isEmpty) 0.0
      else tr.map(_._2).sum / tr.size / (un.map(_._2).sum / un.size) - 1.0
    }
    tracer.foreach(writeTrace(a, _))
    // untimed output check, on the session the window ran on
    new File(s"${a.work}/check").mkdirs()
    mix.foreach(dumpForCheck)
    Files.writeString(Paths.get(s"${a.work}/check/oracle_sql.json"),
      json(mix.map(q => q -> SparkEntry.oracleSql(q)).toMap))
    spark.stop()
    Map(
      "workload" -> a.workload, "seed" -> a.seed,
      "attempted" -> attempted,
      "op_counts" -> opCounts.toMap,
      "exec_failed" -> execFailed.toSeq.sorted,
      "end_to_end" -> endToEnd(lat.map(_._2).toSeq, wall, setup, heap),
      "per_layer" -> tracer.map(t =>
        perLayer(t.ops.toSeq, a.cores, (0.0, 0.0), overhead)).orNull,
      "diagnostics" -> Map(
        "setup_detail" -> Map("session_s" -> secs(ts - t0),
          "warmup_s" -> warm),
        "passes" -> passWall.map { case (t, w) =>
          Map("traced" -> t, "wall_s" -> w) },
        "controls" -> controls.toSeq,
        "latency_samples" -> lat.size,
        "latency_p90_s" -> quantile(lat.map(_._2).toSeq, 0.9),
        "query_p50_s" -> lat.groupBy(_._1).map { case (q, xs) =>
          q -> median(xs.map(_._2).toSeq) },
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
        "cores" -> a.cores))
  }
}

/** The streaming workload: one `upsertLoop`, its store seeded from the
  * documents table, then a closed loop of add/delete triggers. The first
  * `WarmTriggers` batches are untimed set-up triggers, so the JVM has
  * compiled the incremental path before the window, as batch warm-up
  * passes do. */
final class StreamRun(a: Main.Args) {
  import Main._

  // the seed fixes which documents seed the store, which arrive as adds
  // and which seeded ones are deleted, in what order
  private var store: Seq[(Long, String)] = _
  private var fresh: Seq[(Long, String)] = _

  private def readCorpus(): Unit = {
    val corpus = spark.read.parquet(s"${a.data}/documents.parquet")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    val perm = new Random(a.seed).shuffle(corpus)
    store = perm.take(StoreDocs)
    fresh = perm.drop(StoreDocs)
  }

  private def batch(k: Int): (Seq[(Long, String)], Seq[Long]) =
    (fresh.slice(k * BatchAdds, (k + 1) * BatchAdds),
      store.slice(k * BatchDels, (k + 1) * BatchDels).map(_._1))

  private var spark: SparkSession = _
  private var mem: MemoryStream[(String, Long, String)] = _
  private var query: StreamingQuery = _
  private var statePath: String = _
  private var triggers = 0
  private var buildNs = 0L

  private def start(): Unit = {
    spark = newSession(a)
    val session = spark
    implicit val ctx: org.apache.spark.sql.SQLContext = session.sqlContext
    import session.implicits._
    mem = MemoryStream[(String, Long, String)]
    statePath = s"${a.work}/state"
    val t0 = System.nanoTime()
    query = EventStreaming.upsertLoop(
      mem.toDF().toDF("op", "doc_id", "text"), statePath,
      storeBuckets = a.cores)()
    buildNs = System.nanoTime() - t0
  }

  /** Sends one batch and waits until the loop has committed it; returns
    * the latency from `addData` until `processAllAvailable` returns. */
  private def trigger(adds: Seq[(Long, String)], dels: Seq[Long],
      tracer: Option[(Tracer, OpStats)] = None): Long = {
    val rows = adds.map { case (i, t) => ("add", i, t) } ++
      dels.map(i => ("del", i, null: String))
    val t0 = System.nanoTime()
    tracer match {
      case Some((t, o)) =>
        t.span(o, "add")(mem.addData(rows: _*))
        t.span(o, "process")(query.processAllAvailable())
      case None =>
        mem.addData(rows: _*)
        query.processAllAvailable()
    }
    val ns = System.nanoTime() - t0
    // the progress of this trigger is reported after the commit
    val deadline = System.nanoTime() + 30000000000L
    while ((query.lastProgress == null ||
        query.lastProgress.batchId < triggers) &&
        System.nanoTime() < deadline) Thread.sleep(2)
    triggers += 1
    ns
  }

  private def bytes(adds: Seq[(Long, String)], dels: Seq[Long]): Long =
    adds.map { case (_, t) => 3L + 8L + t.getBytes("UTF-8").length }.sum +
      dels.size * (3L + 8L)

  def run(): Map[String, Any] = {
    val t0 = jvmStartNs()
    start()
    readCorpus()
    val ts = System.nanoTime()
    val seedNs = trigger(store, Seq.empty)
    val warmNs = (0 until WarmTriggers).map { k =>
      val (adds, dels) = batch(k)
      trigger(adds, dels)
    }
    val setup = secs(System.nanoTime() - t0)
    val tracer = if (a.trace) Some(new Tracer(spark)) else None
    // latency by batch index, untraced and traced
    val lat = mutable.LinkedHashMap.empty[Int, Double]
    val tracedLat = mutable.LinkedHashMap.empty[Int, Double]
    val perTrigger = mutable.ArrayBuffer.empty[Map[String, Any]]
    var wall = 0.0
    var k = WarmTriggers
    var failed = 0
    val tEnd = System.nanoTime() + a.seconds * 1000000000L
    // at least three triggers, so the median is a middle one and a traced
    // run (which alternates untraced and traced triggers) has a traced one
    // between two untraced ones
    while (System.nanoTime() < tEnd || k < WarmTriggers + 3) {
      val (adds, dels) = batch(k)
      require(adds.size == BatchAdds, "stream corpus exhausted")
      val traced = tracer.isDefined && (k - WarmTriggers) % 2 == 1
      try {
        val s = secs(if (traced) {
          val t = tracer.get
          t.attach()
          val o = t.begin(s"trigger-$k")
          try {
            val ns = trigger(adds, dels, Some((t, o)))
            o.durations = query.lastProgress.durationMs.asScala
              .map { case (n, v) => n -> v.longValue }.toMap
            o.payloadBytes = bytes(adds, dels)
            // a trigger has no build or plan call of its own: it was
            // built by the upsertLoop call, and it plans in the
            // executions it runs
            o.buildNs = buildNs
            o.planNs = (o.analysisMs + o.optimizationMs + o.planningMs) * 1000000L
            ns
          } finally { t.end(o); t.detach() }
        } else trigger(adds, dels))
        if (traced) tracedLat(k) = s
        else { lat(k) = s; wall += s }
        perTrigger += Map("trigger" -> k, "latency_s" -> s, "traced" -> traced)
      } catch {
        case e: Exception =>
          System.err.println(s"[perfbench] trigger $k failed: $e")
          failed += 1
      }
      k += 1
    }
    val heap = retainedHeapMb()
    val check = checkLabels(k)
    val storeSz = storeSize()
    tracer.foreach(writeTrace(a, _))
    query.stop()
    spark.stop()
    val attempted = k - WarmTriggers
    // the store grows every trigger, so a traced trigger is compared with
    // the mean of the untraced triggers just before and after it
    val ratios = tracedLat.toSeq.flatMap { case (i, s) =>
      for (b <- lat.get(i - 1); c <- lat.get(i + 1)) yield s / ((b + c) / 2)
    }
    val overhead = if (ratios.isEmpty) 0.0 else ratios.sum / ratios.size - 1.0
    Map(
      "workload" -> a.workload, "seed" -> a.seed,
      "attempted" -> attempted,
      // a wrong final label map means the triggers maintained it wrongly
      "failed" -> (if (check("ok") == true) failed else attempted),
      "check" -> check,
      "end_to_end" -> endToEnd(lat.values.toSeq, wall, setup, heap),
      "per_layer" -> tracer.map(t =>
        perLayer(t.ops.toSeq, a.cores, storeSz, overhead)).orNull,
      "diagnostics" -> Map(
        "setup_detail" -> Map("session_s" -> secs(ts - t0),
          "seed_trigger_s" -> secs(seedNs),
          "warm_triggers_s" -> warmNs.map(secs)),
        "triggers" -> perTrigger.toSeq,
        "store_docs" -> StoreDocs, "batch_adds" -> BatchAdds,
        "batch_dels" -> BatchDels,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
        "cores" -> a.cores))
  }

  /** Compares the loop's published cluster labels after batches
    * `0 until k` with a batch rebuild over the same corpus:
    * `dupClusters(nearDuplicates(...))` over (store - deletes) + adds. */
  private def checkLabels(k: Int): Map[String, Any] = {
    val session = spark
    import session.implicits._
    val adds = (0 until k).flatMap(i => batch(i)._1)
    val dels = (0 until k).flatMap(i => batch(i)._2).toSet
    val docs = (store.filterNot(d => dels.contains(d._1)) ++ adds)
      .toDF("doc_id", "text")
    val expected = GraftPipelines.dupClusters(
      GraftPipelines.nearDuplicates(docs, 0.7))
      .select(col("doc_id"), col("cluster_id")).localCheckpoint()
    val chain = new File(s"$statePath/chain")
    val gen = chain.listFiles().map(_.getName).filter(_.startsWith("g="))
      .map(_.stripPrefix("g=").toLong).max
    val actual = spark.read.parquet(s"$statePath/chain/g=$gen/labels")
      .select(col("doc_id"), col("cluster_id")).localCheckpoint()
    val missing = expected.exceptAll(actual).count()
    val extra = actual.exceptAll(expected).count()
    Map("ok" -> (missing == 0 && extra == 0 && gen == triggers - 1),
      "generation" -> gen, "expected_rows" -> expected.count(),
      "missing_rows" -> missing, "extra_rows" -> extra)
  }

  private def storeSize(): (Double, Double) = {
    val files = Files.walk(Paths.get(statePath)).iterator().asScala
      .filter(Files.isRegularFile(_)).toSeq
    (files.map(Files.size(_)).sum / 1048576.0, files.size.toDouble)
  }
}
