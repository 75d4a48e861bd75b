package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Ingest surfaces mirroring the reference's extract layer:
  * - schema-explicit CSV with date parsing and zip-as-string semantics
  *   (reference README.md "Fixing the zip data_type issue":
  *   `pd.read_csv(..., parse_dates=date_cols, dtype={'zip': str})`)
  * - stations.json-shaped nested JSON → flat table
  *   (reference "Stations-Flat", citibike-tracker Kernel.php flatten)
  * - parquet table loading for the testdata star schema, with each
  *   source's inferred schema and row-group count memoized per (path,
  *   file stamp): a warm load launches no Spark job, and a rewritten
  *   source misses the memo (see [[table]]).
  */
object Readers {

  /** Load a testdata table. Parquet TIMESTAMP(NANOS) (the events feed) is not
    * directly readable by Spark; read nanos as long and truncate to
    * microseconds (integer division — same truncation DuckDB applies), so
    * both engines see identical timestamp values.
    *
    * Every parquet read here passes the schema from [[facts]], so a warm
    * call launches no Spark job and reads no footer: schema inference (one
    * job per path) and the footer row-group count run once per source
    * state per JVM. When the fan-out copy already exists, the raw source
    * is not read at all.
    *
    * NOTE: sets `spark.sql.legacy.parquet.nanosAsLong` on the session as a
    * side effect — after the first call, plain `spark.read.parquet` on other
    * nanos-timestamp files returns LongType instead of erroring. Scoped
    * per-read isn't possible (the conf is consulted at scan planning time).
    */
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val src = s"$dir/$name.parquet"
    val (stamp, f) = facts(spark, src)
    lazy val df = {
      val raw = spark.read.schema(f.schema).parquet(src)
      f.schema.fields.find(c => c.name == "ts" && c.dataType == LongType) match {
        case Some(_) => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case None => raw
      }
    }
    fanOutLocal(spark, df, f.rowGroups, s"$name-$stamp")
  }

  /** Local-mode-only leaf fan-out. The local testdata tables are one parquet
    * file with ONE row group each, so every scan stage planned from them is a
    * single task: parquet cannot split below a row group, and on local[32]
    * that serializes all map-side work above the scan (shingling, minhash,
    * tokenization — observed as one task grinding 31 idle cores). A real
    * cluster never sees this — 100 TB arrives as thousands of row groups and
    * leaf parallelism comes from file splits.
    *
    * The fan-out therefore reproduces the cluster layout rather than patching
    * the plan: the table is rewritten ONCE per (source state, core count) into
    * a `cores`-file parquet copy under java.io.tmpdir, and every query scans
    * the copy. A per-query `repartition(cores)` would instead inject a
    * round-robin Exchange above every scan — full scan output shuffled BEFORE
    * any partial aggregation can collapse it (measured: q02 0.5 s → 2.4 s) —
    * and that Exchange is exactly the shape a 1000-executor plan must not
    * have. With the multi-file copy, leaf parallelism comes from file splits
    * as on a real cluster, pushdown/pruning hit the scan unchanged, and
    * map-side combine stays below the first shuffle. Gated to local masters;
    * a no-op whenever the source already holds at least half the session's
    * cores in ROW GROUPS (read from the parquet footers — the true
    * splittability bound; planned byte-range splits over-report it for a
    * large single-row-group file, where only the range containing the row
    * group yields rows and every other task is a no-op, which is exactly the
    * pathology being gated against). Any footer-read or cache-build failure
    * falls back to the untouched scan.
    *
    * NOTE: taking the copy path sets `spark.sql.files.openCostInBytes` on
    * the session as a side effect (see inline comment) — like table()'s
    * nanosAsLong, a per-read scope isn't possible because split planning
    * consults the session conf at execution time. Worst case for OTHER
    * reads in the same local session: a many-small-files dataset plans one
    * file per split instead of bin-packing — more tasks, same results.
    */
  private def fanOutLocal(spark: SparkSession, df: => DataFrame,
                          rowGroups: Option[Int], key: String): DataFrame = {
    if (!spark.sparkContext.isLocal) df
    else {
      val cores = spark.sparkContext.defaultParallelism
      val splittable = rowGroups.getOrElse(df.rdd.getNumPartitions)
      if (splittable * 2 >= cores) df
      else {
        // One file per split when reading the copy: the default 4 MiB
        // openCostInBytes bin-packs the copy's small files back into ~2
        // splits, silently undoing the fan-out. openCost = maxPartitionBytes
        // closes every pack after one file. Local-only (like the copy
        // itself); on a cluster the defaults are the right economics.
        spark.conf.set("spark.sql.files.openCostInBytes",
          spark.conf.get("spark.sql.files.maxPartitionBytes"))
        try {
          val copy = fanOutCopy(df, s"$key-p$cores", cores)
          spark.read.schema(facts(spark, copy)._2.schema).parquet(copy)
        } catch { case scala.util.control.NonFatal(_) => df }
      }
    }
  }

  /** What reading a parquet path needs to know without touching its data:
    * the schema Spark infers for it and its total row-group count (None
    * when a footer cannot be read; the caller then falls back to the
    * planned-split count).
    */
  private final case class ParquetFacts(schema: StructType, rowGroups: Option[Int])

  /** [[ParquetFacts]] by (path, stamp of its parquet files) — the stamp is
    * the file's length and mtime, or for a directory the names, lengths and
    * mtimes of its part files. A rewritten file, or a directory that gained,
    * lost or rewrote a part file, therefore misses and is inferred afresh;
    * a hit costs one stat (plus one listing for a directory), no Spark job
    * and no footer read. The inferred schema depends on the session only
    * through `nanosAsLong`, which [[table]] always sets first, so one entry
    * serves every session of the JVM. Access-order LRU bounded at 128
    * entries, eldest-out per put (the `AnnIndex` quantizer-cache shape).
    */
  private val FactsMemoMax = 128
  private val factsMemo: java.util.Map[String, ParquetFacts] =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[String, ParquetFacts](16, 0.75f, true) {
        override def removeEldestEntry(e: java.util.Map.Entry[String, ParquetFacts]): Boolean =
          size > FactsMemoMax
      })

  /** The stamp of the parquet at `path` and its memoized [[ParquetFacts]];
    * a miss runs Spark's schema inference (one job) and reads the footers.
    */
  private def facts(spark: SparkSession, path: String): (String, ParquetFacts) = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    val root = try fs.getFileStatus(p) catch {
      // a missing table fails with Spark's own error, as a plain read would
      case e: java.io.FileNotFoundException => spark.read.parquet(path); throw e
    }
    val files =
      if (!root.isDirectory) Array(root)
      else fs.listStatus(p).filter { s =>
        val n = s.getPath.getName
        s.isFile && !n.startsWith("_") && !n.startsWith(".")
      }.sortBy(_.getPath.getName)
    val stamp =
      if (!root.isDirectory) s"${root.getLen}-${root.getModificationTime}"
      else org.apache.commons.codec.digest.DigestUtils.md5Hex(files.map(s =>
        s"${s.getPath.getName}:${s.getLen}:${s.getModificationTime}").mkString("/"))
    val key = s"$path|$stamp"
    val hit = factsMemo.get(key)
    if (hit != null) (stamp, hit)
    else {
      val rowGroups = scala.util.Try(files.map { s =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(s, conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try r.getRowGroups.size finally r.close()
      }.sum).toOption
      val computed = ParquetFacts(spark.read.parquet(path).schema, rowGroups)
      factsMemo.put(key, computed)
      (stamp, computed)
    }
  }

  /** Build (once) and return the `cores`-file copy of `df` under `key`.
    * The key carries the source's stamp (stale copies of regenerated
    * testdata are never reused) and the core count (an 8-way copy would
    * defeat the fan-out for a 32-core session). A copy without `_SUCCESS`
    * (deleted or torn) is rebuilt; `df` is evaluated only then.
    * Thread-safe within a JVM via a per-key build lock (bench warms 16
    * queries concurrently); safe across JVMs via write-to-temp + atomic
    * rename, first writer wins and losers read the winner's copy. The copy
    * carries the ts rewrite, so reads need no nanosAsLong handling.
    */
  private val fanOutLocks = new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def fanOutCopy(df: => DataFrame, key: String, cores: Int): String = {
    val dest = new java.io.File(
      new java.io.File(System.getProperty("java.io.tmpdir"), "graft-scan-cache"), key)
    val lock = fanOutLocks.computeIfAbsent(key, _ => new Object)
    lock.synchronized {
      if (!new java.io.File(dest, "_SUCCESS").isFile) {
        val tmp = new java.io.File(dest.getParentFile, s"$key.tmp-${ProcessHandle.current.pid}")
        df.repartition(cores).write.mode("overwrite").parquet(tmp.getPath)
        try java.nio.file.Files.move(tmp.toPath, dest.toPath,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        catch { // another JVM built it between our check and move: use theirs
          case _: java.nio.file.FileSystemException =>
            org.apache.commons.io.FileUtils.deleteDirectory(tmp)
        }
      }
    }
    dest.getPath
  }

  /** CSV with an explicit schema — never inferSchema at scale (a full extra
    * pass over 100 TB). Keeps zip-like codes as strings so leading zeros
    * survive, parses timestamp columns on read.
    */
  def csvWithSchema(spark: SparkSession, path: String, schema: StructType,
                    timestampFormat: String = "yyyy-MM-dd HH:mm:ss"): DataFrame =
    spark.read
      .schema(schema)
      .option("header", "true")
      .option("timestampFormat", timestampFormat)
      .csv(path)

  /** The reference's availability CSV schema, zip as string by construction. */
  val availabilitySchema: StructType = StructType(Seq(
    StructField("station_id", LongType),
    StructField("station_name", StringType),
    StructField("station_status", StringType),
    StructField("latitude", DoubleType),
    StructField("longitude", DoubleType),
    StructField("zip", StringType),
    StructField("borough", StringType),
    StructField("hood", StringType),
    StructField("available_bikes", LongType),
    StructField("available_docks", LongType),
    StructField("time_interval", TimestampType),
    StructField("created_at", TimestampType),
    StructField("weather_summary", StringType),
    StructField("precip_intensity", DoubleType),
    StructField("temperature", DoubleType),
    StructField("humidity", DoubleType),
    StructField("wind_speed", DoubleType),
    StructField("wind_gust", DoubleType),
    StructField("cloud_cover", DoubleType),
    StructField("weather_status", StringType),
    StructField("updated_at", TimestampType)))

  /** Flatten a stations-feed-shaped document: one JSON string column holding
    * `{"executionTime": ..., "stationBeanList": [...]}` → one row per
    * station per poll (reference "Stations-Raw" → "Stations-Flat").
    */
  def flattenStationsJson(raw: DataFrame, jsonCol: String): DataFrame = {
    val schema = StructType(Seq(
      StructField("executionTime", StringType),
      StructField("stationBeanList", ArrayType(StructType(Seq(
        StructField("id", LongType),
        StructField("stationName", StringType),
        StructField("availableDocks", LongType),
        StructField("totalDocks", LongType),
        StructField("latitude", DoubleType),
        StructField("longitude", DoubleType),
        StructField("statusValue", StringType),
        StructField("availableBikes", LongType),
        StructField("lastCommunicationTime", StringType)))))))
    raw
      .withColumn("doc", from_json(col(jsonCol), schema))
      .select(col("doc.executionTime").as("execution_time"),
        explode(col("doc.stationBeanList")).as("s"))
      .select(
        to_timestamp(col("execution_time"), "yyyy-MM-dd hh:mm:ss a").as("poll_time"),
        col("s.id").as("station_id"),
        col("s.stationName").as("station_name"),
        col("s.availableBikes").as("available_bikes"),
        col("s.availableDocks").as("available_docks"),
        col("s.totalDocks").as("total_docks"),
        col("s.latitude").as("latitude"),
        col("s.longitude").as("longitude"),
        col("s.statusValue").as("station_status"),
        to_timestamp(col("s.lastCommunicationTime"), "yyyy-MM-dd hh:mm:ss a")
          .as("last_communication_time"))
  }
}
