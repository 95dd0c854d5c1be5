package graftbench

import java.lang.management.ManagementFactory
import java.time.LocalDate

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.metrics.source.{CodegenMetrics, HiveCatalogMetrics}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{CompositeQueries, CoreQueries, EventQueries, GraftSession, ScaleGen, SparkEntry}

/** The benchmark's engine process. `perfbench/run.py` stages the inputs,
  * starts this main with one workload, and checks and summarises what it
  * writes. It drives the engine only through public entry points and
  * measures each layer from outside, by timing those calls and, in a
  * traced run, by counting with listeners at the same boundaries.
  *
  * Usage: `Main scalegen <srcDir> <outDir> <replicas> <cores>` stages a
  * ScaleGen input; `Main oracle <out>` writes the oracle SQL of every query
  * workload's ops; `Main run key=value ...` runs a workload (see `run.py`
  * for the keys) and writes one JSON result file.
  */
object Main {
  def main(args: Array[String]): Unit = args.headOption match {
    case Some("scalegen") =>
      val spark = session(args(4).toInt)
      ScaleGen.generate(spark, args(1), args(2), args(3).toInt,
        only = Set("documents", "embeddings"))
      spark.stop()
    case Some("oracle") =>
      val byWorkload = Seq("sql_interactive", "llm_curation").map { w =>
        w -> SparkEntry.oracleSql.filter { case (k, _) => queryOps(w).contains(k) }
      }.toMap
      java.nio.file.Files.writeString(java.nio.file.Paths.get(args(1)), Json(byWorkload))
    case Some("run") =>
      run(args.drop(1).map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap)
    case _ =>
      System.err.println(
        "usage: Main scalegen <src> <out> <replicas> <cores> | Main oracle <out> | Main run k=v ...")
      sys.exit(2)
  }

  private def session(cores: Int): SparkSession = {
    val spark = GraftSession.create(appName = "graft-perfbench",
      master = s"local[$cores]", shufflePartitions = Some(cores))
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Query workloads: ops are registry queries, run in this fixed order.
    * Each list is sized so one pass fits the run budget (see WORKLOADS.md).
    * A pass is the first execution of each op, and an op pays for the
    * first-touch costs (class loading, JIT) its predecessors left, so a
    * seed-shuffled order would move cost between ops from run to run.
    */
  def queryOps(workload: String): Seq[String] = workload match {
    case "sql_interactive" =>
      // every eighth query of the relational/analytic registries in name
      // order, a sample spread across all three modules, plus one
      // event-time streaming door for the streaming layer
      (CoreQueries.all.keys ++ EventQueries.all.keys ++ CompositeQueries.all.keys)
        .filterNot(_.startsWith("w_stream_")).toSeq.sorted
        .zipWithIndex.collect { case (q, i) if i % 8 == 0 => q } :+
        "w_stream_tumbling"
    case "llm_curation" => Seq(
      "dedup_minhash", "dedup_containment", "sim_ivf_topk", "text_inverted_index")
    case other => sys.error(s"unknown query workload: $other")
  }

  private def run(a: Map[String, String]): Unit = {
    val procStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val cores = a("cores").toInt
    val work = a("work")

    val t0 = System.nanoTime()
    val spark = session(cores)
    val createS = (System.nanoTime() - t0) / 1e9
    val tracer = new Tracer(traced)
    val probe = new Probe

    val w: Workload =
      if (workload == "etl_daily")
        new EtlWorkload(spark, tracer, a("feeds"), a("countries").split(",").toSeq,
          LocalDate.parse(a("first_day")), a("days").toInt, work)
      else new QueryWorkload(spark, tracer, probe, queryOps(workload), a("inputs"))
    // Warm-up: one fixed query on the small fixture loads and JIT-compiles
    // the engine's common paths. The workload's own ops stay cold: a pass is
    // the first execution of each op in the session, code generation included.
    Digest.of(SparkEntry.queries("q1_agg")(spark, a("warm")))

    val ops = mutable.ArrayBuffer[Map[String, Any]]()
    val passes = mutable.ArrayBuffer[Map[String, Any]]()

    // A pass's time is the sum of its ops' latencies: the output checks and
    // clean-up the benchmark runs between ops are not part of it.
    def onePass(pass: Int, counting: Boolean): (Double, Seq[Map[String, Any]], Map[String, Any]) = {
      val names = w.startPass()
      val done = names.map(name => runOp(spark, w, tracer, probe, name, pass, counting))
      val passS = done.map(_("lat_s").asInstanceOf[Double]).sum
      // the context cleaner frees broadcasts and shuffles once a GC has
      // cleared their references; give it a moment before the measuring GC
      System.gc(); Thread.sleep(200); System.gc()
      val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
      (passS, done, Map("pass" -> pass, "pass_s" -> passS, "heap_mb" -> heapMb) ++ w.endPass())
    }

    var listening = false
    def listen(on: Boolean): Unit = if (on != listening) {
      listening = on
      if (on) {
        spark.sparkContext.addSparkListener(probe); spark.streams.addListener(probe.streams)
      } else {
        spark.sparkContext.removeSparkListener(probe); spark.streams.removeListener(probe.streams)
      }
    }

    if (traced) listen(on = true)
    val firstOpMs = System.currentTimeMillis()
    val setupS = (firstOpMs - procStartMs) / 1e3
    val m0 = System.nanoTime()
    var pass = 0
    while (w.hasPass && (pass == 0 || (System.nanoTime() - m0) / 1e9 < seconds)) {
      val (_, done, facts) = onePass(pass, counting = traced)
      ops ++= done
      passes += facts
      pass += 1
    }
    // Tracing overhead: three more passes, without, with and without the
    // listeners, in the same state (every op already ran once): the traced
    // pass minus the mean of the two untraced ones around it. The counting a
    // traced op does after its timed region is not in these times.
    val overheadS =
      if (!traced) 0.0
      else {
        def timed(on: Boolean): Option[Double] =
          if (!w.hasPass) None
          else { listen(on); Some(onePass(if (on) -2 else -1, counting = on)._1) }
        listen(on = false)
        (timed(on = false), timed(on = true), timed(on = false)) match {
          case (Some(a), Some(b), Some(c)) => b - (a + c) / 2
          case _ => 0.0
        }
      }

    val out = Map[String, Any](
      "workload" -> workload, "seed" -> seed, "cores" -> cores,
      "setup_s" -> setupS, "create_s" -> createS, "trace_overhead_s" -> overheadS,
      "oracle" -> w.oracle, "passes" -> passes.toSeq, "ops" -> ops.toSeq,
      "spans" -> tracer.spans.toSeq.map(s => Map("id" -> s.id, "name" -> s.name,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "parent" -> s.parent, "op" -> s.op)))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(a("out")), Json(out))
    w.close()
    spark.stop()
  }

  private def runOp(spark: SparkSession, w: Workload, tracer: Tracer, probe: Probe,
                    name: String, pass: Int, counting: Boolean): Map[String, Any] = {
    tracer.op += 1
    val sc = spark.sparkContext
    if (counting) { // start from zero: drop what the previous op's check ran
      org.apache.spark.graftbench.Bus.drain(sc)
      probe.take()
    }
    val persisted0 = sc.getPersistentRDDs.keySet
    val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val listed0 = HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var counters = Map.empty[String, Double]
    var jobs = Seq.empty[(Long, Long)]
    var batches = Seq.empty[Double]
    val outcome = try {
      tracer.span(name) {
        val r = w.runOp(name, counting)
        if (counting) {
          org.apache.spark.graftbench.Bus.drain(sc)
          val (c, j, b) = probe.take()
          counters = c; jobs = j; batches = b
          j.foreach { case (s, e) => tracer.record("job", s, e) }
        }
        r
      }
    } catch { case e: Throwable if NonFatal(e) => OpOutcome(Map.empty, None, Some(describe(e))) }
    val latS = (System.nanoTime() - t0) / 1e9
    val endMs = startMs + (latS * 1000).toLong
    val listed = HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount - listed0
    val checkpoints = (sc.getPersistentRDDs.keySet -- persisted0).size
    // what the op persisted is garbage once it returns; freeing it here,
    // between timers, keeps one op's blocks from slowing the next
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    val checked = outcome.error match {
      case Some(_) => outcome
      case None if outcome.digest.isDefined => outcome
      case None =>
        try outcome.copy(digest = w.check(name))
        catch { case e: Throwable if NonFatal(e) => outcome.copy(error = Some(describe(e))) }
    }
    // counters the op's own jobs must not include: after its counters
    // were taken, and after its timed region
    val after = if (counting && checked.error.isEmpty) w.afterOp(name) else Map.empty
    val layer = outcome.layer ++ (if (!counting) Map.empty else counters ++ after ++ Map(
      "SparkEntry.checkpoints" -> checkpoints.toDouble,
      "sources.files_listed" -> listed.toDouble,
      "functions.codegen_compiles" ->
        (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0).toDouble,
      "sched.driver_only_ms" -> Probe.uncovered(startMs, endMs, jobs).toDouble))
    Map("name" -> name, "pass" -> pass, "start_ms" -> startMs, "lat_s" -> latS,
      "ok" -> checked.error.isEmpty, "error" -> checked.error.getOrElse(""),
      "digest" -> checked.digest.map(d => Map("columns" -> d.columns,
        "rows" -> d.rows, "h1" -> d.h1, "h2" -> d.h2)).getOrElse(Map.empty),
      "batch_ms" -> batches, "layer" -> layer)
  }

  private def describe(e: Throwable): String = {
    var c = e
    while (c.getCause != null && c.getCause != c) c = c.getCause
    s"${c.getClass.getSimpleName}: ${c.getMessage}".take(400)
  }
}

/** What one op returns: its own layer counters, the digest of its output
  * (taken outside the op's timed region where the workload allows) and
  * the error, if it failed.
  */
final case class OpOutcome(layer: Map[String, Double], digest: Option[Digest.Value],
                           error: Option[String] = None)

trait Workload {
  /** Whether another pass can run. */
  def hasPass: Boolean = true
  /** Prepares a pass; returns its ops in order. */
  def startPass(): Seq[String]
  /** Runs one op; `counting` marks a traced op, whose listener counters
    * are read at the op's inner boundaries.
    */
  def runOp(name: String, counting: Boolean): OpOutcome
  /** Digest of an op's output for ops that leave it somewhere to read back;
    * called after the op's timed region.
    */
  def check(name: String): Option[Digest.Value] = None
  /** Layer counters of a traced op that cost extra jobs; called after the
    * op's timed region and after its listener counters were taken.
    */
  def afterOp(name: String): Map[String, Double] = Map.empty
  /** Per-pass facts measured after the pass, outside its timed region. */
  def endPass(): Map[String, Any] = Map.empty
  /** Oracle SQL of each op, for the expected digests. */
  def oracle: Map[String, String] = Map.empty
  def close(): Unit = ()
}

/** Registry queries over one fixture directory. An op builds the query's
  * frame (`SparkEntry.build_s`: the registry function, including any eager
  * steps an operator takes) and executes it to an order-insensitive digest
  * of its result (`exec.s`).
  */
final class QueryWorkload(spark: SparkSession, tracer: Tracer, probe: Probe,
                          ops: Seq[String], dir: String)
    extends Workload {

  def startPass(): Seq[String] = ops

  /** On-disk state the ops leave behind (streaming sinks and checkpoints,
    * warehouse tables) per byte of the input tables.
    */
  override def endPass(): Map[String, Any] = {
    val tmp = new java.io.File(sys.props("java.io.tmpdir"))
    val state = tmp.listFiles().filter(_.getName.startsWith("graft_")).map(f => Etl.bytes(f.getPath)).sum +
      Etl.bytes(new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath)
    Map("store_bytes" -> state, "input_bytes" -> Etl.bytes(dir))
  }

  override def oracle: Map[String, String] =
    SparkEntry.oracleSql.filter { case (k, _) => ops.contains(k) }

  def runOp(name: String, counting: Boolean): OpOutcome = {
    val df: DataFrame = tracer.span("SparkEntry.build") {
      SparkEntry.queries(name)(spark, dir)
    }
    val buildS = tracer.lastSeconds
    if (counting) org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
    val buildJobs = probe.count("sched.jobs")
    val digest = tracer.span("exec") { Digest.of(df) }
    val execS = tracer.lastSeconds
    val phases = df.queryExecution.tracker.phases
    phases.foreach { case (phase, p) => tracer.record(s"plans.$phase", p.startTimeMs, p.endTimeMs) }
    def ms(phase: String) = phases.get(phase).map(_.durationMs.toDouble).getOrElse(0.0)
    OpOutcome(Map("SparkEntry.build_s" -> buildS, "SparkEntry.build_jobs" -> buildJobs,
      "exec.s" -> execS,
      "plans.analysis_ms" -> ms("analysis"), "plans.optimizer_ms" -> ms("optimization"),
      "plans.planning_ms" -> ms("planning")), Some(digest))
  }
}
