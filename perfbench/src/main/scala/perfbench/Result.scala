package perfbench

import scala.collection.mutable

/** What one run reports. End-to-end metrics go into the result line of an
  * untraced run, per-layer metrics into that of a traced run; both kinds are
  * also printed by name with their unit.
  */
final class Result {
  var attempted = 0L
  var failed = 0L
  val endToEnd = mutable.LinkedHashMap.empty[String, (Double, String)]
  val perLayer = mutable.LinkedHashMap.empty[String, (Double, String)]

  def ok(pass: Boolean): Unit = { attempted += 1; if (!pass) failed += 1 }

  def e2e(name: String, v: Double, unit: String): Unit = endToEnd(name) = (v, unit)
  def layer(name: String, v: Double, unit: String): Unit = perLayer(name) = (v, unit)

  def json(traced: Boolean): String = {
    val ms = (if (traced) perLayer else endToEnd).map { case (k, (v, u)) =>
      val num = if (v.isNaN || v.isInfinite) "0" else BigDecimal(v).bigDecimal.toPlainString
      s""""$k":{"value":$num,"unit":"$u"}"""
    }.mkString("{", ",", "}")
    s"""{"correct":${failed == 0 && attempted > 0},"attempted":$attempted,"failed":$failed,"metrics":$ms}"""
  }
}
