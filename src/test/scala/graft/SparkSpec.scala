package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (JVM-wide, lazy). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf001 = "/root/testdata/sf0.001"
  val sf01: String = java.nio.file.Paths.get(sf001).resolveSibling("sf0.01").toString

  /** Run `f` on a fresh directory `<java.io.tmpdir>/<prefix><random>` and
    * delete the whole tree when `f` ends, whether it passes or throws, so
    * a test run leaves no scratch behind. */
  def withTempDir[T](prefix: String)(f: java.nio.file.Path => T): T = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    try f(dir)
    finally scala.util.Using.resource(java.nio.file.Files.walk(dir))(
      _.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => java.nio.file.Files.delete(p)))
  }

  /** Run `f` with the given SQL confs set on the shared session, restoring
    * the previous values (or unsetting) afterwards. */
  def withConf[T](kv: (String, String)*)(f: => T): T = {
    val conf = spark.conf
    val prev = kv.map { case (k, _) => k -> conf.getOption(k) }
    kv.foreach { case (k, v) => conf.set(k, v) }
    try f
    finally prev.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  /** `f`'s result and the number of Spark jobs started while it runs
    * (including eager checkpoints). The listener bus is drained on both
    * sides, so the count is complete. */
  def jobsOf[T](f: => T): (T, Int) = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.GraftListenerBus.drain(sc)
    sc.addSparkListener(l)
    try {
      val r = f
      org.apache.spark.GraftListenerBus.drain(sc)
      (r, jobs.get)
    } finally sc.removeSparkListener(l)
  }

  /** Eight shuffle partitions that AQE may not coalesce back together, so
    * a small graph's edges really span partitions. */
  val eightPartitions: Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> "8",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "false")

  /** Independent JVM replica of TextFns.splitBucket (first 48 md5 bits of
    * the decimal id, as unsigned, mod 100) — one shared copy so the
    * parity/sampling/packing specs can't drift apart. */
  def md5Bucket(id: Long): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val h = md.digest(id.toString.getBytes("UTF-8"))
    h.take(6).foldLeft(0L)((acc, x) => (acc << 8) | (x & 0xffL)) % 100
  }

  /** Hex md5 of an arbitrary string (independent replica of the salted
    * hash48 idiom for specs that need the full 48-bit value). */
  def md5Hex(s: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(s.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
  }
}
