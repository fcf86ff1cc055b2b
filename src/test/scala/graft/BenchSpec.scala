package graft

import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {

  test("a filtered run writes its own full map, stamped with the filter") {
    assert(Bench.fullMapFile(None) == ("bench_full.json" -> ""))
    val (file, field) = Bench.fullMapFile(Some("""q0[17]_.*|"x"\d"""))
    assert(file == "bench_full_filtered.json")
    assert(field == ""","only":"q0[17]_.*|\"x\"\\d"""")
  }
}
