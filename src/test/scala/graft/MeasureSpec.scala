package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** The measurement core's pure logic, no SparkSession: the JSON string
  * escaper every harness line goes through, and the two /proc parsers
  * behind each timed window's foreign/steal cores.
  */
class MeasureSpec extends AnyFunSuite {

  test("jsonString round-trips quotes, backslashes, control chars and non-ASCII") {
    val om = new ObjectMapper()
    val samples = Seq(
      "",
      "plain",
      "say \"hi\"",
      "C:\\dir\\file",
      "line1\nline2\r\nend",
      "a\tb",
      "\u0000\u0001\u0008\u000b\u000c\u001b\u001f",
      "naïve — 日本語 😀",
      "mixed \"q\" \\ \n \t \u0007 é"
    )
    samples.foreach { s =>
      val lit = Measure.jsonString(s)
      assert(om.readValue(lit, classOf[String]) == s, lit)
      assert(!lit.drop(1).dropRight(1).exists(_ < ' '), lit)
    }
    // as a value inside an object, the way every harness line embeds it
    val k = "err\t\"x\""
    val node = om.readTree(
      s"{${Measure.jsonString(k)}:${Measure.jsonString("v\r\n")}}")
    assert(node.get(k).asText() == "v\r\n")
  }

  test("f3 renders 3 decimals with a dot whatever the default locale") {
    val saved = java.util.Locale.getDefault
    try {
      java.util.Locale.setDefault(java.util.Locale.GERMANY)
      assert(Measure.f3(2.0 / 3) == "0.667")
      assert(Measure.f3(-1.0) == "-1.000")
      assert(Measure.f3(1234.5) == "1234.500")
    } finally java.util.Locale.setDefault(saved)
  }

  test("parseProcStat: busy = sum - idle - iowait, steal is the 8th field") {
    //           user nice system idle  iowait irq softirq steal guest guest_nice
    val line = "cpu  1000 20 300 50000 400 5 60 70 8 9"
    val (busy, steal) = Measure.parseProcStat(line)
    assert(busy == 1000 + 20 + 300 + 5 + 60 + 70)
    assert(steal == 70)
    // an older kernel's shorter line still parses its first 8 counters
    assert(Measure.parseProcStat("cpu 1 2 3 4 5 6 7 8") == ((1 + 2 + 3 + 6 + 7 + 8).toLong, 8L))
  }

  test("parseSelfStat: utime + stime + cutime + cstime past a comm with spaces and ')'") {
    // fields: pid (comm) state ppid pgrp session tty tpgid flags minflt
    // cminflt majflt cmajflt utime stime cutime cstime priority ...
    val line = "4242 (java) worker (x)) S 1 4242 4242 0 -1 4194304 " +
      "100 200 3 4 1111 222 33 4 20 0 57 0 12345 67890 1000"
    assert(Measure.parseSelfStat(line) == 1111L + 222L + 33L + 4L)
    // children's CPU counts as ours: the same process with reaped
    // children (an awk pipe stage) reads higher by exactly their time
    val withKids = line.replace(" 33 4 20 ", " 533 104 20 ")
    assert(Measure.parseSelfStat(withKids) - Measure.parseSelfStat(line) == 500L + 100L)
  }

  test("timed reports a non-negative window and propagates failures") {
    val w = Measure.timed(Thread.sleep(20))
    assert(w.wall >= 0.02)
    assert(w.foreignCores >= 0.0 && w.stealCores >= 0.0)
    assertThrows[IllegalStateException](
      Measure.timed(throw new IllegalStateException("boom")))
  }
}
