package perfbench

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

class EventGenSpec extends AnyFunSuite {
  private val p = ServeWorkload.backlog

  private def writeAll(seed: Long): Seq[Array[Byte]] = {
    val dir = Files.createTempDirectory("eventgen")
    try EventGen.write(EventGen.generate(p, seed), dir, 1700000000000L)
      .map(Files.readAllBytes)
    finally {
      val w = Files.walk(dir)
      try w.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
      finally w.close()
    }
  }

  test("the same seed gives byte-identical files and read schedules") {
    val a = writeAll(7)
    val b = writeAll(7)
    assert(a.size == p.files)
    assert(a.zip(b).forall { case (x, y) => java.util.Arrays.equals(x, y) })
    assert(!a.zip(writeAll(8)).forall { case (x, y) => java.util.Arrays.equals(x, y) })
    assert(ServeWorkload.schedule(7, 500) == ServeWorkload.schedule(7, 500))
    assert(ServeWorkload.schedule(7, 500) != ServeWorkload.schedule(8, 500))
  }

  test("the late share and the skews hold") {
    val files = EventGen.generate(p, 11)
    val all = files.flatten.filter(_.user != ServeWorkload.MarkerAccount)
    assert(all.size == p.events)
    val day = 86400L * 1000000L
    val span = p.days * day
    // files whose slice starts at least lateMaxDays in, so no late event is clamped
    val late = files.zipWithIndex.filter { case (_, f) => span * f / p.files >= p.lateMaxDays * day }
      .flatMap { case (evs, f) =>
        val start = EventGen.Epoch2024Micros + span * f / p.files
        evs.filter(_.user != ServeWorkload.MarkerAccount).map(_.tsMicros < start)
      }
    val lateShare = late.count(identity).toDouble / late.size
    assert(math.abs(lateShare - p.lateShare) < 0.02, s"late share $lateShare")

    val byAccount = all.groupBy(_.user).map { case (u, es) => u -> es.size.toDouble / all.size }
    val harmonic = (1 to p.accounts).map(r => 1.0 / math.pow(r, p.zipfS)).sum
    val top = byAccount(0L)
    assert(math.abs(top - 1 / harmonic) < 0.15 / harmonic, s"top account share $top")
    assert(byAccount.maxBy(_._2)._1 == 0L)
    // Zipf: the account of rank 10 is drawn about 10^s times less often
    assert(math.abs(top / byAccount(9L) - math.pow(10, p.zipfS)) < 0.35 * math.pow(10, p.zipfS))

    val clicks = all.count(_.kind == "click").toDouble / all.size
    assert(math.abs(clicks - p.typeWeights.toMap.apply("click")) < 0.02, s"click share $clicks")
  }

  test("every file carries one marker event") {
    val files = EventGen.generate(p, 3)
    assert(files.forall(_.count(_.user == ServeWorkload.MarkerAccount) == 1))
  }
}
