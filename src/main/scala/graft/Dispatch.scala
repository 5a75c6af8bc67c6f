package graft

import org.apache.spark.sql.SparkSession

/** The ONE read-conf-with-pin-override shape shared by every runtime
  * dispatcher in the engine (as-of skew rescue `spark.graft.asof.skew.*`,
  * cosine range auto-route `spark.graft.sim.range.auto.*`, the
  * Hamming-band auto-routes `spark.graft.hamming.auto.*`, and the
  * reliable-pin switch `spark.graft.pin.reliable`)
  * — previously each dispatcher hand-rolled its own `conf.get(prefix+k,
  * dflt)` + optional-pin dance (r11 verdict #7).
  *
  * The pin rule (first written down at `Similarity.rangeDispatchDecision`,
  * r11 review): an EXPLICIT pin argument beats the session conf, because
  * an oracle-checked query must fix its thresholds as literals mirrored
  * in its SQL twin — a stray session knob would flip the Spark route
  * while the twin's inlined defaults stayed put. The conf remains the
  * deployment surface for library callers that pass no pins.
  */
final class DispatchConf(spark: SparkSession, prefix: String) {
  private def raw(key: String, dflt: String): String =
    spark.conf.get(prefix + key, dflt)

  def long(key: String, dflt: Long, pin: Option[Long] = None): Long =
    pin.getOrElse(raw(key, dflt.toString).toLong)
  def int(key: String, dflt: Int, pin: Option[Int] = None): Int =
    pin.getOrElse(raw(key, dflt.toString).toInt)
  def double(key: String, dflt: Double, pin: Option[Double] = None): Double =
    pin.getOrElse(raw(key, dflt.toString).toDouble)
  def bool(key: String, dflt: Boolean, pin: Option[Boolean] = None): Boolean =
    pin.getOrElse(raw(key, dflt.toString).toBoolean)
}

object DispatchConf {
  def apply(spark: SparkSession, prefix: String): DispatchConf =
    new DispatchConf(spark, prefix)
}
