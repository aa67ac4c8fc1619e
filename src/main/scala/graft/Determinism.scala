package graft

import org.apache.spark.sql.DataFrame

/** Engine-wide parallelism-determinism sweep: every SparkEntry query runs
  * at two session shapes (different core counts AND different
  * spark.sql.shuffle.partitions), and the canonical content hash of each
  * result must be identical. This promotes the per-operator
  * "deterministic at any parallelism" specs to a whole-surface check —
  * the property that makes results reproducible when a 100 TB job is
  * re-run on a differently-sized cluster (the same reason the driver's
  * DuckDB gate can hash-compare at all).
  *
  * The canonical hash sorts the row renderings, so result ORDER is free
  * to vary (several queries end in orderBy anyway); VALUES may not.
  */
object Determinism {

  /** Order-insensitive content hash of a result: sorted row strings
    * (null-safe) digested with md5. Doubles render via toString — queries
    * are engineered to emit rounded/integer values, so bit-equality is
    * the contract being checked, not an approximation. */
  def contentHash(df: DataFrame): String = {
    val rows = df.collect().map(_.toString).sorted
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.foreach(r => md.update(r.getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  def runLevel(cores: Int, sf: String): Map[String, String] = {
    val spark = Bench.makeSession(cores.toString)
    spark.sparkContext.setLogLevel("WARN")
    val out = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, q) =>
      val h =
        try contentHash(q(spark, sf))
        catch { case e: Throwable => s"ERROR: ${e.getClass.getSimpleName}" }
      name -> h
    }.toMap
    CacheBin.drain()
    spark.stop()
    out
  }

  def main(args: Array[String]): Unit = {
    val sf = args.headOption.getOrElse("/root/testdata/sf0.001")
    val pair = sys.env.getOrElse("SPARK_GRAFT_PAIR", "5,32")
      .split(",").map(_.trim.toInt).toSeq
    val a = runLevel(pair.head, sf)
    val b = runLevel(pair.last, sf)
    val names = (a.keySet ++ b.keySet).toSeq.sorted
    val mismatches = names.filter(n => a.get(n) != b.get(n))
    val errors = names.filter(n =>
      a(n).startsWith("ERROR") || b(n).startsWith("ERROR"))
    val mm = mismatches.map { n =>
      s""""$n":{"l${pair.head}":"${a(n).take(12)}","l${pair.last}":"${b(n).take(12)}"}"""
    }.mkString("{", ",", "}")
    println(s"""{"job":"determinism","sf":"$sf","queries":${names.size},""" +
      s""""levels":[${pair.head},${pair.last}],"mismatches":$mm,""" +
      s""""n_mismatch":${mismatches.size},"errors":${errors.map("\"" + _ + "\"").mkString("[", ",", "]")}}""")
  }
}
