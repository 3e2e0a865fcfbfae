package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** The Bench stdout summary line is read from a tail capture of fixed
  * size, so it must stay within `Bench.LineBudget` bytes and stay JSON. */
class BenchSummarySpec extends AnyFunSuite {

  test("summary line of 285 queries fits its byte budget and parses") {
    // entry widths vary with `shift`, so some cuts land within two
    // bytes of the budget (where a one-digit omitted count would pass)
    (0 until 11).foreach { shift =>
      val entries = (0 until 285).map(i =>
        s""""q${1000 + i}_${"x" * ((i * 7 + shift) % 11)}":${1000 - i}.500""")
      val line = Bench.summaryLine("123.456", Seq("q1001_x"), entries,
        "/data/sf0.1")
      assert(line.getBytes("UTF-8").length <= Bench.LineBudget,
        s"shift $shift: ${line.length} bytes")
      val json = new ObjectMapper().readTree(line)
      val kept = json.get("queries").size
      assert(kept > 0 && kept < 285)
      assert(json.get("queries_omitted").asInt == 285 - kept)
      assert(json.get("n").asInt == 285)
    }
  }
}
