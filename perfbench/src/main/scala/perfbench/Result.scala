package perfbench

import scala.collection.mutable

/** What one benchmark process reports: metrics by name with units, the
  * operations attempted and failed, output checks, and free-form notes.
  */
final class Result {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val rows = mutable.LinkedHashMap.empty[String, Long]
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  val notes = mutable.LinkedHashMap.empty[String, String]
  var attempted = 0L
  var failed = 0L

  def metric(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)
  def check(name: String, ok: Boolean, detail: String): Unit = checks += ((name, ok, detail))
  def note(name: String, value: Any): Unit = notes(name) = value.toString

  def toJson: String = {
    val ms = metrics.map { case (k, (v, u)) =>
      s"${Json.str(k)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)}}"
    }.mkString("{", ",", "}")
    val rs = rows.map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", "}")
    val cs = checks.map { case (n, ok, d) =>
      s"{\"name\":${Json.str(n)},\"ok\":$ok,\"detail\":${Json.str(d)}}"
    }.mkString("[", ",", "]")
    val ns = notes.map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }.mkString("{", ",", "}")
    s"""{"attempted":$attempted,"failed":$failed,"metrics":$ms,"rows":$rs,"checks":$cs,"notes":$ns}"""
  }
}
