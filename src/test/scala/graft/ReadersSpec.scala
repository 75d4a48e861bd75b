package graft

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import graft.sources.Readers
import org.apache.commons.io.FileUtils
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame

/** Focused spec for the parquet-facts memo behind [[Readers.table]]: a warm
  * call resolves the table from the memoized schema and row-group count, so
  * it launches no Spark job and reads no footer. What must hold:
  *
  *  1. a warm call launches 0 jobs and returns the cold call's schema and
  *     rows;
  *  2. a rewritten source file (new length/mtime) misses the memo: the new
  *     schema and rows are read;
  *  3. a deleted fan-out copy under `graft-scan-cache` is rebuilt;
  *  4. a directory source that gains a part file misses the memo.
  *
  * The test session is local[4]; a one-row-group source takes the fan-out
  * copy path, the two-part directory of (4) is read directly.
  */
class ReadersSpec extends GraftSuite {
  import spark.implicits._

  private val scanCache =
    new File(System.getProperty("java.io.tmpdir"), "graft-scan-cache")

  /** Jobs launched by `body` on this thread: the listener counts jobs of a
    * job group set here, and a marker job in a second group, seen after
    * `body`'s jobs on the ordered listener bus, tells when the count is
    * complete.
    */
  private def jobsOf[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val group = s"readers-spec-${System.nanoTime()}"
    val counted = new java.util.concurrent.atomic.AtomicInteger()
    val marker = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
          case `group` => counted.incrementAndGet()
          case g if g == s"$group-marker" => marker.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "ReadersSpec")
      val out = try body finally sc.clearJobGroup()
      sc.setJobGroup(s"$group-marker", "ReadersSpec marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(marker.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "listener bus did not deliver the marker job")
      (out, counted.get)
    } finally sc.removeSparkListener(listener)
  }

  private def freshDir(tag: String): File =
    Files.createTempDirectory(s"readers-spec-$tag").toFile

  /** One single-row-group parquet part file of `df` at `dest`. */
  private def writeFile(df: DataFrame, dest: File): Unit = {
    val tmp = new File(dest.getParentFile, s".${dest.getName}.tmp")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.getPath)
    val part = tmp.listFiles().find(f => f.getName.startsWith("part-") &&
      f.getName.endsWith(".parquet")).get
    Files.move(part.toPath, dest.toPath, StandardCopyOption.REPLACE_EXISTING)
    FileUtils.deleteDirectory(tmp)
  }

  private def copiesOf(name: String): Seq[File] =
    Option(scanCache.listFiles()).toSeq.flatten
      .filter(f => f.getName.startsWith(s"$name-") && !f.getName.contains(".tmp-"))

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  /** A unique table name, so copies from earlier runs never collide. */
  private def tableName(tag: String): String = s"readers_spec_${tag}_${System.nanoTime()}"

  private def cleanUp(dir: File, name: String): Unit =
    (dir +: copiesOf(name)).foreach(FileUtils.deleteDirectory)

  // nanos-as-long `ts` exercises table()'s timestamp rewrite as well
  private def events(n: Int) =
    (1 to n).map(i => (i.toLong, i * 1000000000L, s"e$i")).toDF("id", "ts", "kind")

  test("a warm table call launches no Spark job and equals the cold call") {
    val dir = freshDir("warm")
    val name = tableName("warm")
    try {
      writeFile(events(40), new File(dir, s"$name.parquet"))
      val (cold, coldJobs) = jobsOf(Readers.table(spark, dir.getPath, name))
      assert(coldJobs > 0, "the cold call must infer the schema and build the copy")
      val (warm, warmJobs) = jobsOf(Readers.table(spark, dir.getPath, name))
      assert(warmJobs == 0, s"a warm call launched $warmJobs Spark jobs")
      assert(warm.schema == cold.schema)
      assert(warm.schema("ts").dataType == org.apache.spark.sql.types.TimestampType,
        "nanos-as-long ts must be rewritten to a timestamp")
      assert(rows(warm) == rows(cold))
      assert(warm.count() == 40L)
      assert(copiesOf(name).size == 1, "the warm call must reuse the one copy")
    } finally cleanUp(dir, name)
  }

  test("a rewritten source file misses the memo") {
    val dir = freshDir("rewrite")
    val name = tableName("rewrite")
    try {
      val src = new File(dir, s"$name.parquet")
      writeFile(events(10), src)
      assert(Readers.table(spark, dir.getPath, name).count() == 10L)
      val before = src.lastModified
      writeFile(events(25).withColumn("extra", $"id" * 2), src)
      // a distinct mtime even where the filesystem clock is coarse
      assert(src.setLastModified(before + 10000L))
      val after = Readers.table(spark, dir.getPath, name)
      assert(after.columns.toSeq == Seq("id", "ts", "kind", "extra"),
        s"the rewritten schema must be read afresh, got ${after.columns.toSeq}")
      assert(after.count() == 25L)
      assert(copiesOf(name).size == 2, "each source state gets its own copy")
    } finally cleanUp(dir, name)
  }

  test("a deleted fan-out copy is rebuilt") {
    val dir = freshDir("rebuild")
    val name = tableName("rebuild")
    try {
      writeFile(events(30), new File(dir, s"$name.parquet"))
      val first = rows(Readers.table(spark, dir.getPath, name))
      val Seq(copy) = copiesOf(name)
      FileUtils.deleteDirectory(copy)
      val (again, jobs) = jobsOf(Readers.table(spark, dir.getPath, name))
      assert(jobs > 0, "a missing copy must be rebuilt")
      assert(new File(copy, "_SUCCESS").isFile, "the copy must be back in place")
      assert(rows(again) == first)
    } finally cleanUp(dir, name)
  }

  test("a directory source that gains a part file misses the memo") {
    val dir = freshDir("partdir")
    val name = tableName("partdir")
    try {
      val src = new File(dir, s"$name.parquet")
      src.mkdirs()
      writeFile(events(12), new File(src, "part-00000.parquet"))
      assert(Readers.table(spark, dir.getPath, name).count() == 12L)
      val (_, warmJobs) = jobsOf(Readers.table(spark, dir.getPath, name))
      assert(warmJobs == 0, s"a warm directory call launched $warmJobs Spark jobs")
      writeFile(events(5).select(($"id" + 100L).as("id"), $"ts", $"kind"),
        new File(src, "part-00001.parquet"))
      val grown = Readers.table(spark, dir.getPath, name)
      assert(grown.count() == 17L, "the added part file must be read")
      assert(rows(grown.filter($"id" > 100L)).size == 5)
    } finally cleanUp(dir, name)
  }
}
