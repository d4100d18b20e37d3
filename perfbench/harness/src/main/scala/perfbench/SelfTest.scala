package perfbench

/** Shows that the stream output checks fail on corrupted results. Run by
  * perfbench/test_checks.py; exits non-zero if a corruption goes
  * unnoticed. */
object SelfTest {
  def main(args: Array[String]): Unit = {
    val want = Seq(Alert("hard_limit", "10.1.0.1", 9, 60000L),
      Alert("threshold", "10.1.0.1", 9, 60000L),
      Alert("session_limit", "10.5.0.1", 24, -1L))
    val planted = Set(("hard_limit", "10.1.0.1"), ("session_limit", "10.5.0.1"))
    def failures(got: Seq[Alert]): Long = {
      val out = new Outcome
      Parity.check(out, got, want, planted)
      out.failed
    }
    val cases = Seq(
      "intact" -> (want, false),
      "alert dropped" -> (want.drop(1), true),
      "count changed" -> (want.updated(0, want.head.copy(count = 10)), true),
      "alert duplicated" -> (want :+ want.head, true),
      "extra alert" -> (want :+ Alert("error_rate", "10.2.0.1", 3, 0L), true),
      "planted offender missing" -> (want.filterNot(_.subcategory == "session_limit"), true))
    val wrong = cases.filter { case (name, (got, shouldFail)) =>
      val f = failures(got)
      println(s"$name: $f failed")
      (f > 0) != shouldFail
    }
    if (wrong.nonEmpty) {
      println(s"checks misjudged: ${wrong.map(_._1).mkString(", ")}")
      sys.exit(1)
    }
    println("stream checks: ok")
  }
}
