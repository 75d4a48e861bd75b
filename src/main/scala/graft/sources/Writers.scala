package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Sink surfaces. At 100 TB the write layout IS the read plan of every
  * downstream query: hive-style partition columns give partition pruning;
  * bucketing gives shuffle-free joins/aggregations on the bucket key.
  */
object Writers {

  /** Hive-style partitioned parquet: downstream filters on the partition
    * columns prune whole directories before any IO.
    */
  def writePartitioned(df: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    df.write.mode("overwrite").partitionBy(partitionCols: _*).parquet(path)

  /** Bucketed + sorted managed table: co-locates rows by key so joins and
    * aggregations on `bucketCol` need no Exchange. The 100 TB pattern for a
    * fact table joined repeatedly on the same key.
    */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String, numBuckets: Int): Unit =
    df.write.mode("overwrite")
      .bucketBy(numBuckets, bucketCol)
      .sortBy(bucketCol)
      .format("parquet")
      .saveAsTable(table)

  /** Write-side upsert (the reference's stations_static insert-or-update:
    * README.md "Stations-Static"): the parquet directory at `path` holds ONE
    * row per key — the latest by `version` — and `upsert` merges a batch of
    * updates into it. Merge-by-rewrite: read current ∪ updates → SCD-latest
    * collapse → write to a staging directory → atomic directory swap, so a
    * reader never sees a half-written table and the job never reads the
    * directory it is overwriting. Idempotent: re-ingesting the same batch is
    * a no-op. (At 100 TB you would scope the rewrite to the partitions the
    * batch touches — see [[upsertPartitioned]] — or use a table format with
    * native MERGE; the collapse semantics are identical.)
    */
  def upsert(spark: SparkSession, path: String, updates: DataFrame,
             keys: Seq[String], version: Seq[Column]): Unit = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val dir = Paths.get(path)
    val tmpOld = Paths.get(path + ".old")
    val stagingDir = Paths.get(path + ".staging")
    // crash recovery: a previous upsert that died between its two moves left
    // the live table at `.old` and nothing at `path` — restore it first, or
    // this call would silently rebuild the table from the new batch alone.
    if (!Files.exists(dir) && Files.exists(tmpOld)) {
      Files.move(tmpOld, dir, StandardCopyOption.ATOMIC_MOVE)
    }
    // stale leftovers (crash after the swap / during the staging write) would
    // otherwise make the moves below throw FileAlreadyExistsException
    deleteRecursively(tmpOld)
    deleteRecursively(stagingDir)
    val merged =
      if (Files.exists(dir)) {
        val current = spark.read.parquet(path)
        current.unionByName(updates.select(current.columns.map(col).toIndexedSeq: _*))
      } else updates
    val latest = graft.operators.Relational.latestPerKey(merged, keys.map(col), version)
    latest.write.mode("overwrite").parquet(stagingDir.toString)
    if (Files.exists(dir)) {
      Files.move(dir, tmpOld, StandardCopyOption.ATOMIC_MOVE)
    }
    // between the two moves `path` is briefly absent (a plain filesystem has
    // no atomic directory swap); a crash here is recovered by the `.old`
    // restore above on the next call
    Files.move(stagingDir, dir, StandardCopyOption.ATOMIC_MOVE)
    deleteRecursively(tmpOld)
  }

  /** Replace the parquet table at `path` with `next` — [[upsert]]'s
    * staged-swap/crash-recovery dance without the merge semantics, for
    * callers that computed the next table state themselves (e.g. the
    * streaming snapshot-diff monitor, whose per-batch update includes
    * DELETES that upsert's union-and-collapse cannot express). `next` MAY
    * read from `path`: it is localCheckpoint-materialized before the swap,
    * so the write never consumes files it is replacing.
    */
  def replaceTable(spark: SparkSession, path: String, next: DataFrame): Unit = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val dir = Paths.get(path)
    val tmpOld = Paths.get(path + ".old")
    val stagingDir = Paths.get(path + ".staging")
    if (!Files.exists(dir) && Files.exists(tmpOld)) {
      Files.move(tmpOld, dir, StandardCopyOption.ATOMIC_MOVE)
    }
    deleteRecursively(tmpOld)
    deleteRecursively(stagingDir)
    val materialized = next.localCheckpoint()
    // release the checkpoint's RDD blocks, not Dataset.unpersist (a no-op
    // for LogicalRDD-backed plans — the Dedup.Checkpoints rationale)
    val blocks = materialized.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }
    try {
      materialized.write.mode("overwrite").parquet(stagingDir.toString)
      if (Files.exists(dir)) {
        Files.move(dir, tmpOld, StandardCopyOption.ATOMIC_MOVE)
      }
      Files.move(stagingDir, dir, StandardCopyOption.ATOMIC_MOVE)
      deleteRecursively(tmpOld)
    } finally blocks.foreach(_.unpersist(blocking = false))
  }

  private[graft] def deleteRecursively(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      val walk = java.nio.file.Files.walk(p)
      try
        walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
          .forEach(q => java.nio.file.Files.deleteIfExists(q))
      finally walk.close()
    }

  /** Upsert scoped to the hive partitions the batch touches: with dynamic
    * partition-overwrite only directories containing updated keys are
    * rewritten — the 100 TB path (a batch touching 3 of 10⁴ date partitions
    * rewrites 3). Requires the updates to carry the partition column; the
    * per-partition collapse joins current rows of ONLY those partitions.
    * The partition column is implicitly part of the key: uniqueness is
    * per (partition, keys) — rows never move between partitions, which is
    * what makes the partition-scoped rewrite sound.
    */
  def upsertPartitioned(spark: SparkSession, path: String, updates: DataFrame,
                        keys: Seq[String], version: Seq[Column],
                        partitionCol: String): Unit = {
    // the partition column is part of the collapse key: uniqueness is per
    // (partition, keys), and collapsing on `keys` alone would keep ONE global
    // row for a key legally present in several partitions — then dynamic
    // overwrite of the touched partitions would delete its other rows
    val fullKey = (keys :+ partitionCol).map(col)
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(path))) {
      graft.operators.Relational.latestPerKey(updates, fullKey, version)
        .write.partitionBy(partitionCol).parquet(path)
      return
    }
    val touched = updates.select(col(partitionCol).as("_tp")).distinct()
    val current = spark.read.parquet(path)
      // null-SAFE membership: dynamic overwrite rewrites the NULL
      // partition (__HIVE_DEFAULT_PARTITION__) when the updates touch it,
      // so its CURRENT rows must join into the merge too — a plain
      // left_semi on equality would exclude them and the rewrite would
      // silently delete every pre-existing NULL-partition row
      .join(broadcast(touched), col(partitionCol) <=> col("_tp"), "left_semi")
      // materialize before the overwrite: dynamic partition-overwrite deletes
      // the very files this branch reads
      .localCheckpoint()
    val merged = graft.operators.Relational.latestPerKey(
      current.unionByName(updates.select(current.columns.map(col).toIndexedSeq: _*)),
      fullKey, version)
    merged.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCol)
      .parquet(path)
  }

  /** Globally-sorted parquet export via range repartitioning: file i holds
    * keys strictly below file i+1's, and rows are sorted within each file —
    * the 100 TB way to produce ordered output (no single-task global sort;
    * Spark samples the key distribution to build balanced ranges).
    * Downstream consumers get merge-readable runs and effective min/max
    * file pruning on the sort key.
    */
  def writeSorted(df: DataFrame, path: String, sortCols: Seq[String],
                  numFiles: Int): Unit =
    df.repartitionByRange(numFiles, sortCols.map(col): _*)
      .sortWithinPartitions(sortCols.map(col): _*)
      .write.mode("overwrite").parquet(path)

  /** Single-directory CSV/JSON exports (the reference's to_csv / json.dumps
    * outputs — README.md:660, notebooks/CitiBike-1.ipynb nearby_stations).
    */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("header", "true").csv(path)

  def writeJson(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  /** Per-key JSON documents (the reference's nearby_stations.json shape:
    * `{key: [{...}, ...]}` — notebooks/CitiBike-1.ipynb closest_stations).
    * `sort_array` makes the list order deterministic; the aggregation is
    * distributed, only the final JSON strings are row values.
    */
  def groupedJson(df: DataFrame, key: Column, entry: Column): DataFrame =
    df.groupBy(key.as("key"))
      .agg(to_json(sort_array(collect_list(entry))).as("entries_json"))

  /** Standing-artifact lifecycle for a trained BPE merge table — the q57
    * materialized-index pattern applied to the tokenizer: ingest
    * tokenization must reuse a PINNED vocabulary, never retrain per batch
    * (a retrained table re-tokenizes every previously ingested document
    * differently under every downstream consumer). Versions are IMMUTABLE:
    * writing an existing version throws, a new training run writes the
    * next version, and readers either pin a version (reproducible reruns)
    * or take the latest (live ingest). Layout: `path/version=<v>/` parquet,
    * one tiny file per version (the table is ≤ numMerges rows by
    * construction). Version strings order LEXICOGRAPHICALLY for "latest" —
    * use zero-padded counters or ISO timestamps.
    */
  // merge-table artifact paths resolve through the Hadoop FileSystem API —
  // the same resolution every Spark sink uses — so file:/, hdfs://, s3a://
  // paths all work; java.nio would silently treat a scheme-prefixed path
  // as a (nonexistent) relative local path, voiding the immutability check
  private def hadoopFs(spark: SparkSession,
                       path: String): org.apache.hadoop.fs.FileSystem =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  def writeMergeTable(merges: DataFrame, path: String, version: String): Unit = {
    require(version.nonEmpty && !version.exists(c => c == '/' || c == '=' || c == '\\'),
      s"illegal merge-table version '$version' (no /, =, or \\)")
    val expected = Seq("merge_rank", "left", "right", "merged")
    require(merges.columns.toSeq == expected,
      s"merge table must have columns $expected, got ${merges.columns.toSeq}")
    val dir = s"$path/version=$version"
    // immutability is the artifact's whole point: a silently replaced
    // version would re-tokenize history out from under pinned readers
    require(!hadoopFs(merges.sparkSession, path)
        .exists(new org.apache.hadoop.fs.Path(dir)),
      s"merge-table version '$version' already exists at $path — versions " +
        "are immutable; write a new version instead")
    merges.orderBy(col("merge_rank")).coalesce(1)
      .write.mode("errorifexists").parquet(dir)
  }

  /** Highest existing merge-table version at `path` (lexicographic), or
    * None when no version has been written yet.
    */
  def latestMergeTableVersion(spark: SparkSession, path: String): Option[String] = {
    val fs = hadoopFs(spark, path)
    val p = new org.apache.hadoop.fs.Path(path)
    if (!fs.exists(p)) None
    else fs.listStatus(p).toSeq
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .filter(_.startsWith("version="))
      .map(_.stripPrefix("version="))
      .sorted.lastOption
  }

  /** Read a stored merge table — the pinned `version`, or the latest when
    * omitted. Validates loudly on read (the artifact may predate the
    * reader by months): exact schema and contiguous ranks 0..n-1, so a
    * truncated or hand-edited table cannot silently mis-tokenize. The
    * validation collects only the rank column of a ≤ numMerges-row table
    * (the kmeansCentroids tiny-model rule).
    */
  def readMergeTable(spark: SparkSession, path: String,
                     version: Option[String] = None): DataFrame = {
    val v = version.orElse(latestMergeTableVersion(spark, path)).getOrElse(
      throw new IllegalArgumentException(s"no merge-table versions at $path"))
    val dir = s"$path/version=$v"
    require(hadoopFs(spark, path).exists(new org.apache.hadoop.fs.Path(dir)),
      s"merge-table version '$v' does not exist at $path")
    val df = spark.read.parquet(dir)
    val expected = Seq("merge_rank", "left", "right", "merged")
    require(df.columns.toSeq.sorted == expected.sorted,
      s"stored merge table at $dir has columns ${df.columns.toSeq}, want $expected")
    val ranks = df.select(col("merge_rank").cast("int")).collect().map(_.getInt(0)).sorted
    require(ranks.toSeq == ranks.indices.toSeq,
      s"stored merge table at $dir has non-contiguous ranks " +
        s"${ranks.take(10).toSeq}… — truncated or corrupted artifact")
    df.select(expected.map(col): _*)
  }

  /** Training-data shard export: write `df` as `numShards` deterministic
    * hash shards (`shard=N/` partition dirs, one file each) and return the
    * manifest the data loader reads first — (shard, n_rows, n_bytes) —
    * computed from the SAME projection that was written, in one pass over
    * the data per side (write, then an aggregate-sized manifest query).
    *
    * Hash sharding on the id (not round-robin) so a re-export after an
    * upstream change keeps every surviving row in the same shard — loaders
    * resume / diff shard-by-shard. `sizeCol` is the payload column the
    * manifest sizes (octet_length), typically the text.
    */
  def shardedExport(df: DataFrame, id: Column, sizeCol: Column,
                    path: String, numShards: Int): DataFrame = {
    require(numShards >= 1, s"numShards must be >= 1, got $numShards")
    val sharded = df.withColumn("shard", pmod(xxhash64(id), lit(numShards.toLong)))
    sharded
      .repartition(numShards, col("shard"))
      .write.mode("overwrite").partitionBy("shard").parquet(path)
    // Manifest from the files just written, not a second evaluation of the
    // input: if the source is nondeterministic or changes between the two
    // actions, a re-derived manifest would not describe what is on disk —
    // and the manifest is the loader's source of truth. Reading back is
    // also cheap: the aggregate prunes to (shard, sizeCol) columns.
    val readBack = df.sparkSession.read.parquet(path)
    // re-bind caller columns by NAME: a dataframe-bound sizeCol
    // (df("text")) carries df's resolved exprIds, which the read-back
    // does not share — without this the manifest aggregation fails
    // analysis AFTER the (expensive) write completed
    val rebound = org.apache.spark.sql.graftshim.ColumnBridge.column(
      org.apache.spark.sql.graftshim.ColumnBridge.expression(sizeCol).transform {
        case a: org.apache.spark.sql.catalyst.expressions.AttributeReference =>
          org.apache.spark.sql.graftshim.ColumnBridge.expression(readBack(a.name))
      })
    readBack
      .groupBy(col("shard").cast("long").as("shard"))
      .agg(count(lit(1)).as("n_rows"),
        sum(octet_length(rebound).cast("long")).as("n_bytes"))
  }
}
