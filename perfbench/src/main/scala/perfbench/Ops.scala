package perfbench

/** Operations attempted and failed. A failure is a false
  * `FsOperationResult`, a thrown operator or query, or a check that did
  * not match; the first few are echoed to stderr.
  */
final class Ops {
  var attempted = 0L
  var failed = 0L

  def fail(what: String): Unit = {
    failed += 1
    if (failed <= 20) System.err.println(s"[perfbench] FAILED: $what")
  }

  /** One check: passes when `problems` is empty. */
  def check(what: String, problems: Seq[String]): Unit = {
    attempted += 1
    if (problems.nonEmpty) fail(s"$what: ${problems.take(5).mkString("; ")}")
  }

  def expect(what: String, ok: Boolean, detail: => String = ""): Unit =
    check(what, if (ok) Nil else Seq(detail))

  /** One call into graft; a throw counts as a failure and ends the run. */
  def call[T](what: String)(body: => T): T = {
    attempted += 1
    try body
    catch { case e: Throwable => fail(s"$what threw $e"); throw e }
  }

  def results(what: String, rs: Iterable[graft.fs.FsOperationResult]): Unit = {
    val bad = rs.filterNot(_.success)
    if (bad.nonEmpty) fail(s"$what: ${bad.size} false results, e.g. ${bad.head.path}")
  }
}
