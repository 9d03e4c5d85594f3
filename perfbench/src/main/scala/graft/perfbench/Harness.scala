package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A wrong answer from the engine. */
final class CheckFailed(msg: String) extends RuntimeException(msg)

/** What one operation of a closed loop did: its latency, the work items
  * it completed, the seconds that count toward throughput, and its kind
  * (the call type, where a workload mixes several). */
final case class Sample(ms: Double, items: Double, busyS: Double, kind: Int = 0)

object Sample {
  /** Median latency per kind, averaged over the kinds: a mix of call types
    * with different costs keeps a stable figure, where the median of the
    * pooled samples would jump between two types' latencies. */
  def p50(ss: Seq[Sample]): Double = {
    val byKind = ss.groupBy(_.kind).values.map(k => Stats.median(k.map(_.ms)))
    byKind.sum / byKind.size
  }

  def throughput(ss: Seq[Sample]): Double = ss.map(_.items).sum / ss.map(_.busyS).sum
}

/** Shared state of one benchmark process: the session, the seed, the
  * scratch directory, the failure ledger and (in the traced run) the
  * tracer. */
final class Ctx(val spark: SparkSession, val seed: Long, val dir: java.nio.file.Path,
                val tracer: Option[Tracer]) {
  var attempted = 0L
  var failed = 0L

  /** Time a public call of the engine as a span (traced run only). */
  def call[A](name: String)(body: => A): A = tracer match {
    case Some(t) => t.span(name)(body)
    case None    => body
  }

  def expect(ok: Boolean, what: => String): Unit = if (!ok) throw new CheckFailed(what)

  /** One operation: counted as attempted; an exception or a failed check
    * counts as failed and is logged with the operation's name and cause. */
  def op[A](name: String)(body: => A): Option[A] = {
    attempted += 1
    try Some(call(s"op:$name")(body))
    catch {
      case e: Exception =>
        failed += 1
        System.err.println(s"perfbench: FAILED $name: ${e.getClass.getName}: ${e.getMessage}")
        e.printStackTrace(System.err)
        None
    }
  }

  /** Cache and count a frame, the way a user pins an index between calls. */
  def pin(df: DataFrame): DataFrame = pinCount(df)._1

  def pinCount(df: DataFrame): (DataFrame, Long) = { val c = df.cache(); (c, c.count()) }
}

/** One workload of the benchmark. */
trait Workload {
  /** Generate the inputs and build the indexes. */
  def setup(): Unit
  /** Run once after the last setup, before timing starts. */
  def warmup(): Unit = ()
  /** Fingerprint of the inputs the last setup generated. */
  def fingerprint: String
  /** Operations per cycle: a cycle holds every call kind once. A run's
    * loop ends on a whole cycle, and the traced run switches tracing per
    * cycle. */
  def cycle: Int = 1
  /** Distance-kernel pairs one cycle evaluates, as (L2 pairs, cosine
    * pairs), estimated from the index's list sizes and the probe lists
    * of the queries; read after the traced run's loop. */
  def kernelPairs: (Double, Double) = (0.0, 0.0)
  /** One operation of the closed loop; None when it failed. */
  def step(i: Int): Option[Sample]
  /** Answer quality over the operations so far (recall@10). */
  def quality: Double
  /** The workload's named figures, printed for a reader. */
  def report(samples: Seq[Sample]): Seq[(String, Double, String)]
  /** Per-layer figures only this workload can give, measured after the
    * timed loop of the traced run. */
  def layers: Seq[(String, Double, String)] = Nil
  def release(): Unit
}

object Fs {
  def bytesUnder(p: java.nio.file.Path): Long = {
    val s = java.nio.file.Files.walk(p)
    try s.filter(f => java.nio.file.Files.isRegularFile(f))
      .mapToLong(f => java.nio.file.Files.size(f)).sum()
    finally s.close()
  }
}
