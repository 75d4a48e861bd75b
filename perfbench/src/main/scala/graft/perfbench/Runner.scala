package graft.perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.util.control.NonFatal

import graft.SparkEntry
import graft.sources.Readers
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** One op of a pass: a contract query or one step of an ingest batch. */
final case class Op(name: String, family: String, run: (SparkSession, Tracer, Long) => Unit)

/** A result dump that perfbench/run.py compares: `hash` against the DuckDB
  * oracle of query `oracle`, or `recall` of the dump against the dump of
  * its exact twin `oracle`. `ops` is how many measured ops the check vouches
  * for; when any check of a `group` fails, those ops count as failed once. */
final case class Check(name: String, kind: String, oracle: String, floor: Double, ops: Int,
                       group: String)

trait Workload {
  /** Tables whose `Readers.table` fan-out copy the set-up builds. */
  def tables: Seq[String]
  /** Builds the workload's standing state in a fresh session (set-up). */
  def prepare(s: SparkSession): Unit = ()
  def ops: Seq[Op]
  /** Fewest whole passes in a measured stretch, however short. Two, so that
    * every run's op medians are over the same passes after the cold one:
    * passes still get faster for several passes after it, and a run that
    * measured a third pass would read faster than one that did not. */
  def minPasses: Int = 2
  def beforePass(s: SparkSession): Unit = ()
  def afterPass(s: SparkSession): Unit = ()
  /** Layer figures the listeners cannot see, read after each traced pass. */
  def passLayers(s: SparkSession): Map[String, Double] = Map.empty
  /** Writes the result dumps into `dir` and returns what to check. Runs
    * after the timed passes. */
  def dumpChecks(s: SparkSession, dir: Path, opsPerName: Map[String, Int]): Seq[Check]
}

/** Spans at each layer boundary the bench calls through. Kept in memory;
  * written out at the end of the run. While enabled, the span name is also
  * the `perfbench.layer` local property of the jobs it submits. */
final class Tracer {
  final case class Span(name: String, startNs: Long, var endNs: Long, parent: Int, op: Long)
  var enabled = false
  val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Int] = Nil
  private val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()

  /** Spans that wrap a call of the bench itself rather than of a module. */
  private val harnessSpans = Set("op", "exec.action")

  /** Epoch-ms intervals of the module spans from index `from` on. */
  def layerIntervalsMs(from: Int): Seq[(Long, Long)] =
    spans.drop(from).filterNot(sp => harnessSpans(sp.name)).map(sp =>
      ((sp.startNs + epochOffsetNs) / 1000000L, (sp.endNs + epochOffsetNs) / 1000000L)).toSeq

  private def withProp[T](key: String, value: String)(f: => T): T = {
    val sc = SparkSession.active.sparkContext
    val prev = sc.getLocalProperty(key)
    sc.setLocalProperty(key, value)
    try f finally sc.setLocalProperty(key, prev)
  }

  def apply[T](name: String, op: Long)(f: => T): T =
    if (!enabled) f
    else {
      val id = spans.size
      spans += Span(name, System.nanoTime(), 0L, stack.headOption.getOrElse(-1), op)
      stack = id :: stack
      try withProp("perfbench.layer", name)(f)
      finally { spans(id).endNs = System.nanoTime(); stack = stack.tail }
    }

  /** Marks jobs submitted inside `f` as belonging to a query builder. */
  def building[T](f: => T): T = if (!enabled) f else withProp("perfbench.phase", "build")(f)

  /** Total self time (s) per span name over spans of ops in `ops`. */
  def selfTimes(ops: Set[Long]): Map[String, Double] = {
    val child = mutable.Map[Int, Long]().withDefaultValue(0L)
    spans.foreach(sp => if (sp.parent >= 0) child(sp.parent) += sp.endNs - sp.startNs)
    spans.zipWithIndex.filter(x => ops(x._1.op)).groupBy(_._1.name).map { case (n, xs) =>
      n -> xs.map { case (sp, i) => (sp.endNs - sp.startNs - child(i)) / 1e9 }.sum
    }
  }

  def write(p: Path): Unit = {
    val lines = spans.map(sp => Json.render(Map("name" -> sp.name, "start_ns" -> sp.startNs,
      "end_ns" -> sp.endNs, "parent" -> sp.parent, "op" -> sp.op)))
    Files.write(p, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

/** Contract queries, each written to the `noop` sink, in a seeded order. */
final class QueryWorkload(a: Main.Args, dir: String, set: QuerySet) extends Workload {
  def tables: Seq[String] = set.tables

  val ops: Seq[Op] = new scala.util.Random(a.seed).shuffle(set.ops).map { q =>
    Op(q.query, q.family, (s, t, id) => {
      val df = t.building(t("entry.build", id)(SparkEntry.queries(q.query)(s, dir)))
      t("exec.action", id)(df.write.mode("overwrite").format("noop").save())
    })
  }

  /** Each op's query, built as the timed ops build it, written as parquet
    * instead of to the `noop` sink; approximate queries also dump their
    * exact twin. */
  def dumpChecks(s: SparkSession, out: Path, opsPerName: Map[String, Int]): Seq[Check] =
    set.ops.flatMap { q =>
      def dump(name: String): Unit = {
        Main.resetSessionState(s)
        SparkEntry.queries(name)(s, dir).write.mode("overwrite").parquet(out.resolve(name).toString)
      }
      dump(q.query)
      val n = opsPerName.getOrElse(q.query, 0)
      q.twin match {
        case Some((twin, floor)) =>
          dump(twin)
          Seq(Check(q.query, "recall", twin, floor, n, q.query))
        case None => Seq(Check(q.query, "hash", q.query, 0.0, n, q.query))
      }
    }
}

/** Runs the set-up, the measured passes and the result dumps of one workload. */
final class Runner(a: Main.Args, w: Workload, dir: String, tmp: Path) {
  private val tracer = new Tracer
  private val probe = new Probe
  private var attempted, failed = 0L
  private val errors = mutable.LinkedHashMap[String, String]()
  private var nextOp = 0L

  /** `coveredS`: seconds of the op's wall time inside at least one layer
    * (module span, planning phase or Spark job); traced ops only. */
  private final case class OpRec(id: Long, name: String, family: String, wall: Double,
                                 ok: Boolean, stats: OpStats, gcS: Double, leftover: Int,
                                 compileS: Double, coveredS: Double)

  private def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
  }

  private def pass(s: SparkSession, traced: Boolean): Seq[OpRec] = {
    w.beforePass(s)
    val recs = w.ops.map { op =>
      Main.resetSessionState(s)
      val id = nextOp
      nextOp += 1
      val st = if (traced) probe.begin() else null
      val span0 = tracer.spans.size
      val g0 = gcMs()
      val c0 = CodeGenerator.compileTime
      val t0 = System.nanoTime()
      val ok = try { tracer("op", id)(op.run(s, tracer, id)); true }
      catch {
        case NonFatal(e) =>
          failed += 1
          errors.getOrElseUpdate(op.name, e.toString.linesIterator.next().take(400))
          false
      }
      val wall = (System.nanoTime() - t0) / 1e9
      attempted += 1
      val coveredS = if (!traced) 0.0 else {
        st.opEndMs = System.currentTimeMillis()
        org.apache.spark.BusDrain(s.sparkContext)
        probe.end()
        Probe.unionS(tracer.layerIntervalsMs(span0) ++ st.planIntervalsMs ++ st.jobIntervalsMs,
          st.opStartMs, st.opEndMs)
      }
      OpRec(id, op.name, op.family, wall, ok, st, (gcMs() - g0) / 1e3,
        s.sparkContext.getPersistentRDDs.size, (CodeGenerator.compileTime - c0) / 1e9, coveredS)
    }
    w.afterPass(s)
    recs
  }

  def run(): Map[String, Any] = {
    // set-up: fresh session, empty scan cache, standing state, one cold pass
    // (the same noop-sink ops as the measured passes; checks come after)
    Main.deleteTree(tmp.resolve("graft-scan-cache"))
    val t0 = System.nanoTime()
    val s = Main.newSession(a.outDir)
    val f0 = System.nanoTime()
    w.tables.foreach(t => Readers.table(s, dir, t))
    val fanoutS = (System.nanoTime() - f0) / 1e9
    w.prepare(s)
    pass(s, traced = false)
    val setupS = (System.nanoTime() - t0) / 1e9

    // closed loop: whole passes, the next one started while time is left
    val passes = mutable.ArrayBuffer[(Boolean, Seq[OpRec])]()
    val heap = mutable.ArrayBuffer[Double]()
    val passLayers = mutable.ArrayBuffer[Map[String, Double]]()
    def measure(seconds: Double, traced: Boolean): Unit = {
      val t0 = System.nanoTime()
      var n = 0
      do {
        passes += ((traced, pass(s, traced)))
        if (traced) passLayers += w.passLayers(s)
        heap += Main.retainedMb()
        n += 1
      } while ((System.nanoTime() - t0) / 1e9 < seconds || n < w.minPasses)
    }
    if (!a.trace) measure(a.seconds, traced = false)
    else {
      measure(a.seconds / 2, traced = false)
      s.sparkContext.addSparkListener(probe)
      s.listenerManager.register(probe)
      s.streams.addListener(probe.streams)
      tracer.enabled = true
      measure(a.seconds / 2, traced = true)
      tracer.enabled = false
    }

    val opsPerName = passes.flatMap(_._2).groupBy(_.name).map { case (k, v) => k -> v.size }
    val checks = w.dumpChecks(s, a.outDir.resolve("check"), opsPerName)
    Json.write(a.outDir.resolve("oracle_sql.json"), checks.filter(_.kind == "hash")
      .map(c => c.oracle -> SparkEntry.oracleSql(c.oracle)).toMap)
    if (a.trace) tracer.write(a.outDir.resolve("spans.jsonl"))

    val measured = passes.filter(p => !a.trace || !p._1).flatMap(_._2).toSeq
    val medianByOp = opMedians(measured)
    val endToEnd = Map(
      "pass_s" -> passSeconds(medianByOp),
      "op_p50_s" -> Main.quantile(medianByOp.values.toSeq, 0.5),
      "op_p90_s" -> Main.quantile(medianByOp.values.toSeq, 0.9),
      "setup_s" -> setupS,
      "heap_retained_mb" -> Main.median(heap.toSeq))
    val metrics =
      if (!a.trace) endToEnd
      else {
        val rows = checks.map(c => c.name ->
          s.read.parquet(a.outDir.resolve("check").resolve(c.name).toString).count()).toMap
        layerMetrics(passes.filter(_._1).flatMap(_._2).toSeq, passSeconds(medianByOp),
          fanoutS, passLayers.toSeq, rows)
      }
    Map(
      "attempted" -> attempted, "failed" -> failed, "errors" -> errors.toMap,
      "metrics" -> metrics,
      "checks" -> checks.map(c => Map("name" -> c.name, "kind" -> c.kind,
        "oracle" -> c.oracle, "floor" -> c.floor, "ops" -> c.ops, "group" -> c.group)),
      "passes" -> measured.size.toDouble / w.ops.size, "ops_measured" -> measured.count(_.ok),
      "pass_walls_s" -> passes.map(_._2.map(_.wall).sum),
      "op_medians_s" -> medianByOp)
  }

  /** Each op's median time over the run, by op name. The op percentiles
    * are taken over these, so that a run's few samples per op give the
    * latency distribution across ops rather than the noise of the slowest
    * sample. */
  private def opMedians(recs: Seq[OpRec]): Map[String, Double] =
    recs.filter(_.ok).groupBy(_.name).map { case (k, v) => k -> Main.median(v.map(_.wall)) }

  /** Warm seconds per pass: each op's median times its count in a pass
    * (steadier than the median pass when a run holds one to three). */
  private def passSeconds(medians: Map[String, Double]): Double =
    w.ops.map(op => medians.getOrElse(op.name, 0.0)).sum

  private def layerMetrics(recs: Seq[OpRec], untracedPassS: Double,
                           fanoutS: Double, passLayers: Seq[Map[String, Double]],
                           rows: Map[String, Long]): Map[String, Double] = {
    // every figure is per pass: totals over the traced ops / passes they make up
    val n = math.max(recs.size.toDouble / w.ops.size, 1e-9)
    val ok = recs.filter(_.ok)
    def per(f: OpRec => Double): Double = recs.map(f).sum / n
    def st(f: OpStats => Double): Double = per(r => f(r.stats))
    val self = tracer.selfTimes(recs.map(_.id).toSet)
    def spanS(name: String): Double = self.getOrElse(name, 0.0) / n
    val opWall = per(r => (r.stats.opEndMs - r.stats.opStartMs) / 1e3)
    val covered = per(_.coveredS)
    val job = st(_.jobUnionS)
    // op time inside neither a Spark job nor a planning phase
    val gap = st(x => (x.opEndMs - x.opStartMs) / 1e3 -
      Probe.unionS(x.jobIntervalsMs.toSeq ++ x.planIntervalsMs, x.opStartMs, x.opEndMs))
    val taskRun = st(_.taskRunMs / 1e3)
    val inputRows = st(_.inputRows.toDouble)
    val resultRows = ok.map(r => rows.getOrElse(r.name, 0L)).sum / n
    val writerBytes = st(x => x.outputBytesByLayer.filter(_._1.startsWith("writers.")).values.sum.toDouble)
    val annBytes = st(x => x.outputBytesByLayer.filter(_._1.startsWith("annindex.")).values.sum.toDouble)
    val arriving = passLayers.flatMap(_.get("arriving_bytes")).headOption.getOrElse(0.0)
    val mb = 1048576.0
    val tracedPass = passSeconds(opMedians(recs))
    val skews = recs.flatMap(_.stats.stageSkews)
    Map(
      "entry.build_s" -> spanS("entry.build"),
      "entry.eager_jobs" -> st(_.eagerJobs.toDouble),
      "entry.leftover_rdds" -> per(_.leftover.toDouble),
      "plan.analysis_s" -> st(_.analysisMs / 1e3),
      "plan.optimization_s" -> st(_.optimizationMs / 1e3),
      "plan.planning_s" -> st(_.planningMs / 1e3),
      "plan.aqe_updates" -> st(_.aqeUpdates.toDouble),
      "codegen.compile_s" -> per(_.compileS),
      "codegen.ops_outside_wscg" -> st(_.outsideWscg.toDouble),
      "exec.jobs" -> st(_.jobs.toDouble),
      "exec.stages" -> st(_.stages.toDouble),
      "exec.tasks" -> st(_.tasks.toDouble),
      "exec.job_s" -> job,
      "exec.driver_gap_s" -> gap,
      "exec.task_cpu_s" -> st(_.taskCpuNs / 1e9),
      "exec.task_run_s" -> taskRun,
      "exec.cpu_util" -> (if (job > 0) taskRun / (job * Main.cpus) else 0.0),
      "exec.task_gc_s" -> st(_.taskGcMs / 1e3),
      "exec.shuffle_read_mb" -> st(_.shuffleRead / mb),
      "exec.shuffle_write_mb" -> st(_.shuffleWrite / mb),
      "exec.spill_mb" -> st(_.spill / mb),
      "exec.stage_skew" -> (if (skews.isEmpty) 1.0 else skews.sum / skews.size),
      "exec.peak_exec_mem_mb" -> (if (recs.isEmpty) 0.0 else recs.map(_.stats.peakExecMem).max / mb),
      "readers.fanout_s" -> fanoutS,
      "readers.input_mb" -> st(_.inputBytes / mb),
      "readers.input_rows" -> inputRows,
      "readers.rows_per_result" -> (if (resultRows > 0) inputRows / resultRows else 0.0),
      "writers.call_s" -> spanS("writers.upsert"),
      "writers.output_mb" -> writerBytes / mb,
      "writers.write_amp" -> (if (arriving > 0) (writerBytes + annBytes) / arriving else 0.0),
      "annindex.build_s" -> Main.median(passLayers.map(_.getOrElse("annindex.build_s", 0.0))),
      "annindex.append_s" -> spanS("annindex.append"),
      "annindex.compact_s" -> spanS("annindex.compact"),
      "annindex.search_s" -> spanS("annindex.search"),
      "annindex.files" -> Main.median(passLayers.map(_.getOrElse("annindex.files", 0.0))),
      "stream.batch_s" -> spanS("stream.batch"),
      "stream.add_batch_s" -> st(_.addBatchMs / 1e3),
      "jvm.gc_s" -> per(_.gcS),
      "trace.overhead_frac" -> (tracedPass / untracedPassS - 1.0),
      "trace.layer_cover_frac" -> (if (opWall > 0) covered / opWall else 0.0),
      "trace.unexplained_s" -> (opWall - covered),
      "trace.op_wall_s" -> opWall
    ) ++ Workloads.families.map(f =>
      s"family.${f}_s" -> ok.filter(_.family == f).map(_.wall).sum / n)
  }
}
