package perfbench

import scala.collection.mutable

/** What one run hands back to `run.py`: raw latency samples, attempt and
  * failure counts, named check outcomes, per-layer figures and whatever
  * the Python-side checks need. A failed operation is counted and left out
  * of every sample, so it can never read as a fast result. */
final class Result {
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val checks = mutable.LinkedHashMap.empty[String, Boolean]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  val extra = mutable.LinkedHashMap.empty[String, Any]
  val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0
  var failed = 0

  def sample(name: String, value: Double): Unit =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += value

  private def noteFailure(what: String, e: Throwable): Unit = {
    failed += 1
    val msg = s"$what: ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}".take(400)
    failures += msg
    System.err.println(s"[perfbench] FAILED $msg")
  }

  /** Runs one measured operation; `None` if it threw. */
  def attempt[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch { case e: Throwable => noteFailure(what, e); None }
  }

  /** Records one named correctness check. */
  def check(name: String)(ok: => Boolean): Unit = {
    attempted += 1
    val pass = try ok catch { case e: Throwable => noteFailure(name, e); checks(name) = false; return }
    checks(name) = pass
    if (!pass) noteFailure(name, new IllegalStateException("check failed"))
  }

  def toJson: String = Json(mutable.LinkedHashMap[String, Any](
    "attempted" -> attempted, "failed" -> failed, "failures" -> failures,
    "checks" -> checks, "samples" -> samples, "layers" -> layers) ++ extra)
}

/** Minimal JSON writer for maps, sequences, strings and numbers. */
object Json {
  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case a: Array[_] => apply(a.toSeq)
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
}
