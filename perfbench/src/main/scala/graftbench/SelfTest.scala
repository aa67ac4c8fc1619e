package graftbench

import java.io.File

/** Self-test of the benchmark's own checks, on small inputs:
  *  - each workload's correct result passes its check, and the result
  *    with one row dropped or one label flipped fails it;
  *  - a traced repetition accounts for its jobs (span jobs sum to the
  *    listener total, none outside a span), produces the untraced output
  *    digest, and its spans cover the traced wall time.
  * Returns the process exit code: 0 when every case holds.
  */
object SelfTest {
  def run(root: File): Int = {
    val spark = Main.session()
    val failures = Workload.all.flatMap { w =>
      val seed = 7L
      val l = w.open(spark, Main.inputs(w, root, seed, w.size / 10))
      val work = new File(root, s"work/selftest-${w.name}")
      val (plain, _) = Main.rep(l, work, 0, None, None)
      val listener = new GroupListener
      spark.sparkContext.addSparkListener(listener)
      val (traced, tr) = Main.rep(l, work, 1, Some(listener), Some(plain.digest))
      spark.sparkContext.removeSparkListener(listener)
      val r = l.run(None, work)
      val cases = Seq(
        "correct result passes" -> plain.failures.isEmpty,
        "traced repetition passes its trace checks" -> traced.failures.isEmpty,
        "every span and per-layer metric of the workload is traced" ->
          Layers.of(w.name).forall(m => traced.layer.contains(m._1)),
        "dropped row is caught" -> l.check(l.corrupt(r, "drop")).nonEmpty,
        "flipped label is caught" -> l.check(l.corrupt(r, "flip")).nonEmpty)
      graft.CacheBin.drain()
      cases.foreach { case (what, ok) =>
        println(s"[selftest] ${w.name}: $what: ${if (ok) "ok" else "FAILED"}")
      }
      (plain.failures ++ traced.failures).foreach(f => println(s"[selftest] ${w.name}: $f"))
      println(s"[selftest] ${w.name}: spans ${tr.toSeq.flatMap(_.spans.map(_.name)).mkString(", ")}")
      cases.filterNot(_._2).map(c => s"${w.name}: ${c._1}")
    }
    spark.stop()
    println(s"[selftest] ${if (failures.isEmpty) "all cases hold" else failures.mkString("; ")}")
    if (failures.isEmpty) 0 else 1
  }
}
