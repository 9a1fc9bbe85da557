package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for all suites (SURVEY.md §5). */
object TestSpark {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", "/tmp/graft_warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** What the Spark jobs of a measured block did: how many ran, the
    * input bytes (`inputMetrics.bytesRead`) their tasks read, and each
    * job's (start, end) times in ms. */
  final case class Measured(
      jobs: Int, inputBytes: Long, spans: Seq[(Long, Long)])

  /** Runs `body` on this thread under a fresh job group and returns
    * its result with what that group's jobs did. The listener bus
    * delivers events asynchronously but in order, so a marker job
    * started after `body` is seen only once every event `body` caused
    * has been counted. */
  def measure[T](body: => T): (T, Measured) = {
    val sc = session.sparkContext
    val group = s"measured-${java.util.UUID.randomUUID()}"
    val stages = ConcurrentHashMap.newKeySet[Int]()
    val starts = new ConcurrentHashMap[Int, Long]()
    val spans = new ConcurrentLinkedQueue[(Long, Long)]()
    val bytes = new AtomicLong
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id"))
          .orNull match {
          case `group` =>
            starts.put(e.jobId, e.time); e.stageIds.foreach(stages.add(_))
          case g if g == s"$group-marker" => drained.countDown()
          case _ => ()
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(starts.get(e.jobId)).foreach(t => spans.add((t, e.time)))
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId) && e.taskMetrics != null)
          bytes.addAndGet(e.taskMetrics.inputMetrics.bytesRead)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "measured")
      val out = try body finally sc.clearJobGroup()
      sc.setJobGroup(s"$group-marker", "drain")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(drained.await(60, TimeUnit.SECONDS),
        "listener bus did not drain")
      (out, Measured(starts.size, bytes.get, spans.asScala.toSeq))
    } finally sc.removeSparkListener(listener)
  }

  /** Asserts that fully decoding `table` of the Jet file at `path`
    * reads at most 1.5x the file plus its `.crc` sidecar. A file the
    * fixture writers left without a sidecar is first re-written
    * through the checksummed local FS, as the jetmdb writer's output
    * is. A reader that re-opens the file and its `.crc` per page reads
    * 2 to 4x that once the file passes 512 KiB. */
  def assertJetScanReadsOnce(path: String, table: String): Unit = {
    val p = new java.io.File(path)
    val crc = new java.io.File(p.getParentFile, s".${p.getName}.crc")
    if (!crc.exists) {
      val bytes = java.nio.file.Files.readAllBytes(p.toPath)
      val out = org.apache.hadoop.fs.FileSystem
        .getLocal(session.sparkContext.hadoopConfiguration)
        .create(new org.apache.hadoop.fs.Path(path), true)
      try out.write(bytes) finally out.close()
    }
    assert(crc.exists)
    val onDisk = p.length + crc.length
    val (_, m) = measure(
      session.read.format("jetmdb").option("table", table).load(path)
        .write.format("noop").mode("overwrite").save())
    val read = m.inputBytes
    assert(read > 0 && read <= onDisk * 3 / 2,
      s"scan of $path read $read bytes for $onDisk on disk")
  }
}
