package graftbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** A workload's input, opened in a live session and ready to run. The
  * engine only ever sees the generated tables; the expected answer is read
  * by [[check]], outside the timed region. */
abstract class Loaded {
  type R
  def inputRows: Long
  /** One repetition: the engine calls that produce a complete result.
    * With a tracer, each layer call is a span ending in a barrier. */
  def run(tr: Option[Tracer], work: File): R
  /** Failed output checks; empty when the result is correct. */
  def check(r: R): Seq[String]
  /** Per-layer ratios derived from a traced result by extra jobs of
    * their own, run outside the repetition's timed region and spans. */
  def probe(r: R): Map[String, Double] = Map.empty
  /** Order-independent digest of the result (traced vs untraced). */
  def digest(r: R): String
  /** The result with one row dropped ("drop") or one label flipped
    * ("flip") — the self-test feeds it back to [[check]]. */
  def corrupt(r: R, how: String): R
}

trait Workload {
  def name: String
  /** Bumped whenever the generator changes, so cached inputs are rebuilt. */
  def version: Int
  /** Whether warm-up repetitions precede the timed ones; false when the
    * workload's user pays the cold first repetition on every run. */
  def warmUp: Boolean = true
  /** Input size; part of the cache key. */
  def size: Long
  /** Writes the input tables and the expected answer under `dir`. */
  def generate(spark: SparkSession, dir: String, seed: Long, size: Long): Unit
  def open(spark: SparkSession, dir: String): Loaded
}

object Workload {
  val all: Seq[Workload] = Seq(Geotag, Cadastre, Corpus, Hotspot)

  def byName(n: String): Workload = all.find(_.name == n).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload '$n' (one of ${all.map(_.name).mkString(", ")})"))

  /** Runs `make` plainly, or — traced — as span `name` closed by `barrier`,
    * which materializes the value and returns (value, rows, extra metrics). */
  def step[T](tr: Option[Tracer], name: String)(make: => T)(
      barrier: T => (T, Long, Map[String, Double])): T =
    tr.fold(make)(t => t.span(name)(barrier(make)))

  def writeLines(path: String, lines: Iterable[String]): Unit =
    Files.write(Paths.get(path), lines.mkString("", "\n", "\n").getBytes(UTF_8))

  def readLines(path: String): Seq[String] =
    new String(Files.readAllBytes(Paths.get(path)), UTF_8).split("\n").toSeq
      .filter(_.nonEmpty)

  def digestOf(parts: Iterable[String]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    parts.toSeq.sorted.foreach(p => md.update((p + "\n").getBytes(UTF_8)))
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  /** Map-valued results compared key by key; at most a few mismatches are
    * listed. */
  def diff[K, V](what: String, expected: Map[K, V], got: Map[K, V]): Seq[String] = {
    val keys = (expected.keySet ++ got.keySet).toSeq
    val bad = keys.filter(k => expected.get(k) != got.get(k))
    bad.take(3).map(k => s"$what[$k]: expected ${expected.get(k)}, got ${got.get(k)}") ++
      (if (bad.size > 3) Seq(s"$what: ${bad.size} mismatches in total") else Nil)
  }
}
