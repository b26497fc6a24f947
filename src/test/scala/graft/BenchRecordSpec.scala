package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench record is one driver-parsed JSON line; exception text must
  * never be able to corrupt it. */
class BenchRecordSpec extends AnyFunSuite {

  test("every touchedThisRound name is a registered query") {
    // the set is kept by hand; a stale name would silently drop that
    // query's priority slot in the packed record
    val unknown = Bench.touchedThisRound -- SparkEntry.queries.keySet
    assert(unknown.isEmpty, s"not in SparkEntry.queries: ${unknown.toSeq.sorted}")
  }

  test("sanitizeErr strips every JSON-hostile character") {
    val nasty = new RuntimeException(
      "path \"C:\\tmp\"\nline2\u0000\u001b[31mred\u001b[0m\tend\b\f")
    val s = Bench.sanitizeErr(nasty)
    assert(!s.exists(c => c < 0x20), s"control char survived: ${s.toSeq}")
    assert(!s.contains('"') && !s.contains('\\'), s)
    assert(s.startsWith("RuntimeException: "), s)
    // embedding in a JSON string must parse
    val json = s"""{"e":"$s"}"""
    assert(!json.contains('\n'))
  }

  test("sanitizeErr handles null messages and caps length") {
    assert(Bench.sanitizeErr(new IllegalStateException()) ==
      "IllegalStateException: null")
    val long = Bench.sanitizeErr(new RuntimeException("x" * 1000))
    assert(long.length == 160)
  }

  test("packLine keeps prefix order, respects the budget, counts omissions") {
    // 200 synthetic entries at realistic name lengths — more than any
    // budget can hold, so packing must truncate
    val entries = (0 until 200).map(i => (f"query_entry_name_$i%03d", i / 7.0))
    val tail = ""","noise":[0.06],"sf":"/x","detail":"BENCH_LOCAL.json"}"""
    val line = Bench.packLine(12.345, entries, tail, 1820)
    assert(line.length <= 1820, s"line ${line.length} chars")
    assert(line.startsWith("""{"metric":"total","value":12.35,"unit":"sec","queries":{"""))
    assert(line.endsWith(tail))
    // kept entries are exactly a PREFIX of the input order (priority
    // packing depends on this: raw reads, then touched, then the rest)
    val kept = """"query_entry_name_(\d+)"""".r
      .findAllMatchIn(line).map(_.group(1).toInt).toSeq
    assert(kept == (0 until kept.size), s"not a prefix: $kept")
    assert(kept.size >= 50, s"only ${kept.size} entries fit")
    assert(line.contains(s""","omitted":${200 - kept.size}"""))
    // 2-decimal values: entry 7 is 1.0 exactly
    assert(line.contains(""""query_entry_name_007":1.00"""))
  }

  test("packLine stops at the first entry that does not fit") {
    // long names first, then short ones: greedy skipping would keep
    // short lower-priority entries after a long one stopped fitting
    val entries = (0 until 60).map(i =>
      (if (i % 3 == 0) f"e$i%02d_" + "x" * 80 else f"e$i%02d", i.toDouble))
    val tail = ""","sf":"/x"}"""
    val line = Bench.packLine(1.0, entries, tail, 1000)
    assert(line.length <= 1000, s"line ${line.length} chars")
    val kept = """"e(\d\d)[_x]*"""".r
      .findAllMatchIn(line).map(_.group(1).toInt).toSeq
    assert(kept.nonEmpty && kept == (0 until kept.size), s"not a prefix: $kept")
    assert(kept.size < 60, "budget never hit — the test packs nothing")
    assert(line.contains(s""","omitted":${60 - kept.size}"""))
  }

  test("packLine emits no omitted field when everything fits") {
    val entries = Seq(("a_query", 1.0), ("b_query", 2.5))
    val line = Bench.packLine(3.5, entries, ""","sf":"/x"}""", 1820)
    assert(!line.contains("omitted"))
    assert(line.contains(""""a_query":1.00,"b_query":2.50"""))
  }
}
