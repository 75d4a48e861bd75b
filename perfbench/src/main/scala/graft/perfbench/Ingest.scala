package graft.perfbench

import java.nio.file.{Files, Path}

import graft.SparkEntry
import graft.operators.Dedup
import graft.sources.{AnnIndex, Readers, Writers}
import graft.streaming.DocsStream
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Arrival batches landing on a standing corpus.
  *
  * Arrivals are the rows with id % 10 == 7 of events, documents and
  * embeddings (q57's slice); the seed splits them into `batches` batches.
  * The standing state, built in set-up from the other rows: the per-user
  * SCD table (`Writers.upsert`), the shingle index of the corpus documents
  * (`Writers.writeSorted`, q57's artifact) and an IVF index over the corpus
  * vectors (`AnnIndex.build` + `write`). A pass restores that state from a
  * pristine copy (untimed) and lands every batch; a batch is these ops:
  *
  *  - `Writers.upsert` of the batch's events into the SCD table;
  *  - the batch's documents land in the stream's input directory and one
  *    `DocsStream.incrementalDedupStream` micro-batch scores them against
  *    the shingle index;
  *  - `AnnIndex.append` of the batch's vectors, `AnnIndex.compact` every
  *    `compactEvery` batches;
  *  - read-back: `AnnIndex.searchIvf` top-5 for the batch's vectors and a
  *    scan of the upserted table.
  *
  * After the last pass every arrival has landed, so the SCD table must equal
  * q20's oracle, probe-all search must equal brute force (q97's oracle) and
  * the union of streamed near-dup hits must equal q57's oracle.
  */
final class Ingest(a: Main.Args, dir: String) extends Workload {
  val (tables, batches, compactEvery) = Workloads.ingest
  private val numCells = 4
  private val root = a.outDir.resolve("ingest")
  private def p(name: String): Path = root.resolve(name)
  private val keys = Seq("user_id")
  private val version = Seq(col("ts"), col("event_id"))

  private def T(s: SparkSession, name: String): DataFrame = Readers.table(s, dir, name)
  private def arrival(id: Column): Column = pmod(id, lit(10L)) === 7
  private def inBatch(id: Column, b: Int): Column =
    arrival(id) && pmod(xxhash64(id, lit(a.seed)), lit(batches)) === b
  private def events(s: SparkSession): DataFrame =
    T(s, "events").select(col("user_id"), col("event_id"), col("event_type"), col("ts"))

  private var query: StreamingQuery = null
  private var landedDocs = 0L
  private var docsPerBatch = Map.empty[Int, Long]
  private var buildS = 0.0

  private def copyTree(from: Path, to: Path): Unit =
    scala.util.Using.resource(Files.walk(from)) { st =>
      st.forEach { f =>
        val t = to.resolve(from.relativize(f))
        if (Files.isDirectory(f)) Files.createDirectories(t) else Files.copy(f, t)
      }
    }

  override def prepare(s: SparkSession): Unit = {
    Main.deleteTree(root)
    Writers.upsert(s, p("scd0").toString, events(s).filter(!arrival(col("event_id"))), keys, version)
    val docs = T(s, "documents")
    Writers.writeSorted(
      Dedup.shingleIndex(docs.filter(!arrival(col("doc_id"))), col("doc_id"), col("text"), 3,
        idName = "corpus_id"),
      p("shingle_index").toString, Seq("sh_h"), numFiles = Main.cpus)
    val b0 = System.nanoTime()
    AnnIndex.write(
      AnnIndex.build(T(s, "embeddings").filter(!arrival(col("vec_id"))), "vec_id", "embedding",
        numCells = numCells, kmeansIters = 1),
      p("ann0").toString, "0001")
    buildS = (System.nanoTime() - b0) / 1e9
    docsPerBatch = (0 until batches).map(b => b -> docs.filter(inBatch(col("doc_id"), b)).count()).toMap
  }

  /** Bytes arriving per pass: the batches' rows written as parquet (once,
    * outside any timing), the denominator of writers.write_amp. */
  private lazy val arrivingBytes: Double = {
    val s = SparkSession.active
    val sizing = p("arrivals").toString
    (0 until batches).foreach { b =>
      events(s).filter(inBatch(col("event_id"), b)).write.mode("append").parquet(s"$sizing/events")
      T(s, "documents").filter(inBatch(col("doc_id"), b)).select("doc_id", "text")
        .write.mode("append").parquet(s"$sizing/documents")
      T(s, "embeddings").filter(inBatch(col("vec_id"), b))
        .write.mode("append").parquet(s"$sizing/embeddings")
    }
    scala.util.Using.resource(Files.walk(p("arrivals"))) { st =>
      st.filter(f => f.toString.endsWith(".parquet")).mapToLong(f => Files.size(f)).sum().toDouble
    }
  }

  override def beforePass(s: SparkSession): Unit = {
    Seq("scd", "ann", "stage", "checkpoint", "hits").foreach(n => Main.deleteTree(p(n)))
    copyTree(p("scd0"), p("scd"))
    copyTree(p("ann0"), p("ann"))
    Files.createDirectories(p("stage"))
    landedDocs = 0L
    val hits = p("hits").toString
    query = DocsStream.incrementalDedupStream(
        s.readStream.schema("doc_id BIGINT, text STRING").parquet(p("stage").toString),
        col("doc_id"), col("text"), s.read.parquet(p("shingle_index").toString),
        n = 3, minJaccard = 0.5, expectedIndexShingles = 500000L, numBits = 8000000L,
        onHits = (df, _) => df.write.mode("append").parquet(hits))
      .option("checkpointLocation", p("checkpoint").toString)
      .start()
  }

  override def afterPass(s: SparkSession): Unit = {
    query.stop()
    query = null
  }

  override def passLayers(s: SparkSession): Map[String, Double] = Map(
    "arriving_bytes" -> arrivingBytes,
    "annindex.build_s" -> buildS,
    "annindex.files" -> scala.util.Using.resource(Files.walk(p("ann"))) {
      st => st.filter(f => Files.isRegularFile(f)).count().toDouble
    })

  /** Waits until the stream has consumed every landed document. */
  private def awaitStream(): Unit = {
    val deadline = System.nanoTime() + 120L * 1000000000L
    def consumed = query.recentProgress.map(_.numInputRows).sum
    query.processAllAvailable()
    while (consumed < landedDocs) {
      if (System.nanoTime() > deadline)
        sys.error(s"stream consumed $consumed of $landedDocs landed documents")
      Thread.sleep(5)
      query.processAllAvailable()
    }
  }

  /** A pass lands every batch, so one pass already holds `batches` samples
    * of each call but compaction. */
  override def minPasses: Int = 1

  /** Each batch is a run of ops, one per module call, named by the call, so
    * a pass holds a sample of each call per batch. */
  val ops: Seq[Op] = (0 until batches).flatMap { b =>
    def vecs(s: SparkSession) = T(s, "embeddings").filter(inBatch(col("vec_id"), b))
    def step(name: String)(body: SparkSession => Unit): Op =
      Op(name, "ingest", (s, t, id) => t(name, id)(body(s)))
    Seq(
      step("writers.upsert")(s => Writers.upsert(s, p("scd").toString,
        events(s).filter(inBatch(col("event_id"), b)), keys, version)),
      step("stream.batch") { s =>
        T(s, "documents").filter(inBatch(col("doc_id"), b))
          .select("doc_id", "text").write.mode("append").parquet(p("stage").toString)
        landedDocs += docsPerBatch(b)
        awaitStream()
      },
      step("annindex.append")(s => AnnIndex.append(s, p("ann").toString, "0001", vecs(s)))) ++
    (if ((b + 1) % compactEvery == 0)
      Seq(step("annindex.compact")(s => AnnIndex.compact(s, p("ann").toString, "0001")))
    else Nil) ++
    Seq(
      step("annindex.search")(s => AnnIndex.searchIvf(
        AnnIndex.read(s, p("ann").toString, Some("0001")), vecs(s), k = 5)
        .write.mode("overwrite").format("noop").save()),
      step("scd.readback")(s => s.read.parquet(p("scd").toString)
        .write.mode("overwrite").format("noop").save()))
  }

  def dumpChecks(s: SparkSession, out: Path, opsPerName: Map[String, Int]): Seq[Check] = {
    def dump(name: String, df: DataFrame): Unit =
      df.repartition(1).write.mode("overwrite").parquet(out.resolve(name).toString)
    dump("ingest_scd", s.read.parquet(p("scd").toString)
      .select(col("user_id"), col("event_id"), col("event_type")))
    dump("ingest_ann", AnnIndex.searchIvf(AnnIndex.read(s, p("ann").toString, Some("0001")),
        T(s, "embeddings").filter(col("vec_id") < 10), k = 5, nProbe = numCells)
      .select(col("query_id"), col("neighbor_id"), col("cos"), col("rnk")))
    val hits =
      if (Files.exists(p("hits"))) s.read.parquet(p("hits").toString)
      else s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        SparkEntry.queries("q57_incremental_dedup")(s, dir).schema)
    dump("ingest_neardup", hits)
    // every batch writes all three artifacts: one wrong artifact makes every op wrong
    val n = opsPerName.values.sum
    Seq(Check("ingest_scd", "hash", "q20_scd_latest", 0.0, n, "ingest"),
      Check("ingest_ann", "hash", "q97_ann_index_lifecycle", 0.0, n, "ingest"),
      Check("ingest_neardup", "hash", "q57_incremental_dedup", 0.0, n, "ingest"))
  }
}
