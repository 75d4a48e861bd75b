package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import graft.{BoxLock, GenScaled, GraftExtensions, SparkEntry}
import org.apache.spark.sql.SparkSession

/** The benchmark JVM: one workload, one seed, one closed-loop client.
  *
  * Usage: `Main corpus|run <workload> <seed> <seconds> <trace 0|1> <dataDir> <outDir> [quick]`
  *
  * 1. `corpus` builds (or reuses) the seeded corpus with the GenScaled
  *    scheme, in a JVM of its own so that every `run` set-up starts cold.
  * 2. `run` sets up once (`setup_s`): fresh session, empty scan cache, the
  *    workload's standing state, and one cold pass.
  * 3. Runs whole passes until `seconds` have been measured. Between ops
  *    caches and persisted RDDs are cleared, as in `graft.Bench`.
  * 4. After the timed passes, writes each checked result to
  *    `<outDir>/check/<name>` as parquet and `<outDir>/result.json`;
  *    perfbench/run.py compares the dumps with the DuckDB oracle.
  *
  * With trace 1 the first half of the time is measured untraced, the second
  * half with [[Probe]] installed and spans recorded; the result then holds
  * the per-layer metrics.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        dataDir: Path, outDir: Path, quick: Boolean)

  /** Bump when the corpus recipe below changes, so cached corpora and
    * oracle fingerprints of the old recipe are never reused. */
  val corpusVersion = 1

  def main(argv: Array[String]): Unit = {
    val a = Args(argv(1), argv(2).toLong, argv(3).toDouble, argv(4) == "1",
      Paths.get(argv(5)).toAbsolutePath, Paths.get(argv(6)).toAbsolutePath,
      argv.length > 7 && argv(7) == "quick")
    val lock = BoxLock.acquire("perfbench")
    if (!lock.acquired) {
      System.err.println(s"[perfbench] box lock ${lockPath} not held: refusing to measure")
      sys.exit(3)
    }
    val load0 = loadAvg()
    try argv(0) match {
      case "corpus" => corpus(a)
      case "run" => run(a, lock, load0)
    }
    finally lock.release()
  }

  /** The lock file [[BoxLock]] takes (perfbench/run.py points it into the
    * checkout, the only place a run may write). */
  def lockPath: String = sys.env.getOrElse("SPARK_GRAFT_LOCK", "/tmp/graft-box.lock")

  val cpus: Int = Runtime.getRuntime.availableProcessors

  /** The one session configuration every workload runs under. */
  def sessionConf(out: Path): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.driver.maxResultSize" -> "1g",
    "spark.local.dir" -> out.resolve("spark-local").toString,
    "spark.sql.warehouse.dir" -> out.resolve("warehouse").toString)

  def newSession(out: Path, master: Option[String] = None): SparkSession = {
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val b = SparkSession.builder().appName("perfbench").withExtensions(new GraftExtensions)
    val conf = sessionConf(out) ++ master.map("spark.master" -> _)
    val s = conf.foldLeft(b) { case (bb, (k, v)) => bb.config(k, v) }.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def resetSessionState(s: SparkSession): Unit = {
    s.catalog.clearCache()
    s.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
  }

  /** Distinct corpora the seeds map onto: the seed picks one of these copy
    * salts, so each corpus and its oracle fingerprints are made once and
    * reused by every later seed that maps onto it. */
  val salts = 4

  /** Copy offset for a seed: above every base id, never a multiple of 1000
    * (GenSf1.off explains why). */
  def offsetFor(seed: Long): Long = {
    val o = 10000001L + 1000003L * java.lang.Math.floorMod(seed, salts.toLong)
    if (o % 1000 == 0) o + 1 else o
  }

  /** Seeded corpus: `copies` key-shifted copies of the base corpus (the
    * GenScaled scheme), cached by copy offset, generator version and recipe
    * version. Generated on two cores, where Readers.table reads the
    * one-row-group base tables without making fan-out copies. */
  def corpus(a: Args): String = {
    val copies = if (a.quick) 1 else 2
    val off = offsetFor(a.seed)
    val dir = a.dataDir.resolve(
      s"corpus/g${GenScaled.genVersion}-v$corpusVersion-x$copies-o$off")
    if (!Files.exists(dir.resolve("_GENMETA.json"))) {
      val base = Paths.get(sys.env.getOrElse("PERFBENCH_HOME", "perfbench"), "base").toAbsolutePath
      val s = newSession(a.outDir, Some("local[2]"))
      GenScaled.gen(s, base.toString, dir.toString, copies, off, files = 1)
      s.stop()
    }
    dir.toString
  }

  private def loadAvg(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  def median(xs: Seq[Double]): Double = {
    val v = xs.sorted
    if (v.isEmpty) Double.NaN
    else if (v.size % 2 == 1) v(v.size / 2) else (v(v.size / 2 - 1) + v(v.size / 2)) / 2
  }

  def quantile(xs: Seq[Double], q: Double): Double = {
    val v = xs.sorted
    if (v.isEmpty) Double.NaN
    else {
      val pos = q * (v.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, v.size - 1)
      v(lo) + (v(hi) - v(lo)) * (pos - lo)
    }
  }

  /** Heap in use after a full collection, MiB. */
  def retainedMb(): Double = {
    System.gc(); System.gc()
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    mx.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def deleteTree(p: Path): Unit = graft.sources.Writers.deleteRecursively(p)

  private def run(a: Args, lock: BoxLock.Held, load0: Double): Unit = {
    deleteTree(a.outDir)
    Files.createDirectories(a.outDir.resolve("check"))
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    Files.createDirectories(tmp)
    val stamps = mutable.LinkedHashMap[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "cpus" -> cpus,
      "load_avg_start" -> load0, "lock_path" -> lockPath, "lock_acquired" -> lock.acquired,
      "lock_wait_s" -> lock.waitedSeconds)
    val dir = corpus(a)
    stamps("corpus") = dir
    val workload: Workload =
      if (a.workload == "ingest") new Ingest(a, dir)
      else new QueryWorkload(a, dir, Workloads.querySet(a.workload))
    val res = new Runner(a, workload, dir, tmp).run()
    stamps("load_avg_end") = loadAvg()
    stamps("session_conf") = sessionConf(a.outDir).toMap
    Json.write(a.outDir.resolve("result.json"), res ++ Map("stamps" -> stamps))
    SparkSession.getActiveSession.foreach(_.stop())
  }

}
