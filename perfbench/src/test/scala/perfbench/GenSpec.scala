package perfbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  private val n = 20000

  test("one seed repeats the same rows, batches and queries exactly") {
    val a = (0 until 500).map(Gen.history(7L, n, _))
    val b = (0 until 500).map(Gen.history(7L, n, _))
    assert(a == b)
    assert((0 until 50).map(Gen.live(7L, 3L, _, 1000L)) ==
      (0 until 50).map(Gen.live(7L, 3L, _, 1000L)))
    assert((0 until 50).map(Gen.historyQuery(7L, 0, _)) ==
      (0 until 50).map(Gen.historyQuery(7L, 0, _)))
  }

  test("different seeds give different rows, batches and queries") {
    val a = (0 until 500).map(Gen.history(7L, n, _))
    val b = (0 until 500).map(Gen.history(8L, n, _))
    assert(a.zip(b).count { case (x, y) => x == y } == 0)
    assert(Gen.live(7L, 0L, 1, 0L) != Gen.live(8L, 0L, 1, 0L))
    assert((0 until 50).map(Gen.historyQuery(7L, 0, _)) !=
      (0 until 50).map(Gen.historyQuery(8L, 0, _)))
  }

  test("history covers every service, level and month with unique ascending ts") {
    val rows = (0 until n).map(Gen.history(3L, n, _))
    assert(rows.map(_.service).toSet == Gen.Services.toSet)
    assert(rows.map(_.level).toSet == Gen.Levels.toSet)
    assert(rows.zip(rows.tail).forall { case (x, y) => x.ts < y.ts })
    assert(rows.head.ts >= Gen.HistStart && rows.last.ts < Gen.HistEnd)
    val months = rows.map(r => java.time.Instant.ofEpochMilli(r.ts).toString.take(7)).toSet
    assert(months.size == 6)
    assert(rows.map(_.user).filter(_ >= 0).toSet.size > 300)
    val sizes = rows.map(_.msg.length)
    assert(sizes.min < 30 && sizes.max > 150)
  }

  test("wire rows store as the ms-truncated ts and the to_json attrs string") {
    val e = Gen.live(1L, 5L, 2, 1719792000123456L)
    assert(e.ts == "2024-07-01T00:00:00.123456Z")
    val s = Gen.stored(e)
    assert(s.ts == 1719792000123L)
    assert(s.attrs.startsWith("{\"") && s.attrs.contains("\"region\":"))
    assert(Gen.live(1L, 5L, 0, 0L).service == Gen.ProbeService)
    assert(Gen.live(1L, 5L, 0, 0L).trace_id == Gen.markerId(5L))
  }
}
