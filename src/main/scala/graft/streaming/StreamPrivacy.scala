package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, SparkSession}

/** Streaming k-anonymity monitor — the per-window twin of
  * [[graft.operators.Privacy.classProfile]], in the StreamCountMin
  * bit-identical family: a class's size is an order-free integer sum
  * and its l-diversity is the cardinality of an order-free set union,
  * so the closed-window class rows are BIT-IDENTICAL to the batch
  * profile over the same window's rows regardless of trigger
  * interleaving, retries, or arrival order (StreamPrivacySpec pins
  * stream ≡ batch). This is the release gate a streaming ingest runs:
  * the window cannot ship until the watermark closes it, and the
  * emitted rows say exactly which QI classes are below k.
  *
  * State per (window, QI class) is ONE counter plus the distinct
  * sensitive-value set, kept by [[EventTimeState.tumbling]] and
  * bounded by the sensitive attribute's domain (an enum in every
  * release-gate schema; a high-cardinality "sensitive" column is a
  * modeling error upstream, and the cap makes it loud rather than
  * unbounded).
  */
object StreamPrivacy {

  /** Sensitive-domain guard: distinct sensitive values per class are
    * capped; crossing the cap throws rather than growing state. */
  val MAX_SENSITIVE_DOMAIN = 1024

  final case class Keyed(ts: Timestamp, qi: String, sensitive: String)
  final case class ClassState(n: Long, sens: Set[String])
  final case class ClassRow(window_start: Timestamp,
      window_end: Timestamp, qi: String, class_size: Long, class_l: Long)

  /** Emits each tumbling window's (qi, class_size, class_l) rows once
    * the watermark passes the window end — the exact columns
    * Privacy.classProfile computes in batch.
    */
  def classProfile(records: Dataset[Keyed], windowSeconds: Long,
      watermarkDelay: String)(
      implicit spark: SparkSession): Dataset[ClassRow] = {
    import spark.implicits._
    require(windowSeconds > 0)
    EventTimeState.tumbling(records)(_.ts, _.qi, windowSeconds,
        watermarkDelay) { (prev: Option[ClassState], batch) =>
      var n = prev.map(_.n).getOrElse(0L)
      var sens = prev.map(_.sens).getOrElse(Set.empty[String])
      batch.foreach { r =>
        n += 1
        sens += r.sensitive
        require(sens.size <= MAX_SENSITIVE_DOMAIN,
          s"sensitive domain for class '${r.qi}' exceeded " +
            s"$MAX_SENSITIVE_DOMAIN distinct values — not an enum")
      }
      ClassState(n, sens)
    } { (start, end, qi, s) =>
      Iterator.single(ClassRow(start, end, qi, s.n, s.sens.size.toLong))
    }
  }
}
