package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.perfbench.Stats.{Span, Tally}

class StatsSpec extends AnyFunSuite {

  test("percentile interpolates linearly between ranks") {
    val xs = Seq(4.0, 1.0, 3.0, 2.0)
    assert(Stats.percentile(xs, 0) == 1.0)
    assert(Stats.percentile(xs, 100) == 4.0)
    assert(Stats.median(xs) == 2.5)
    assert(Stats.percentile(xs, 25) == 1.75)
    assert(Stats.median(Seq(7.0)) == 7.0)
    assert(Stats.percentile((1 to 11).map(_.toDouble), 90) == 10.0)
    assert(Stats.percentile((1 to 20).map(_.toDouble), 90) == 18.1)
    assertThrows[IllegalArgumentException](Stats.median(Nil))
  }

  test("self time is the duration minus the direct children") {
    val spans = Seq(
      Span(0, "pass", 0, 100, -1, "r"),
      Span(1, "construct", 10, 30, 0, "r"),
      Span(2, "execute", 40, 70, 0, "r"),
      Span(3, "stage", 45, 60, 2, "r"))
    val self = Stats.selfTimes(spans)
    assert(self == Map(0 -> 50L, 1 -> 20L, 2 -> 15L, 3 -> 15L))
    assert(Stats.enclosing(spans, 50) == 3)
    assert(Stats.enclosing(spans, 35) == 0)
    assert(Stats.enclosing(spans, 200) == -1)
  }

  test("tallies merge and give min/mean/max in tenths") {
    val t = Seq(-152L, -3L, -70L).foldLeft(Tally.empty)(_ add _)
    assert(t == Tally(-152, -3, -225, 3))
    assert(t.merge(Tally.empty) == t)
    assert(Stats.expectedRow(t) == ((-15.2, -7.5, -0.3)))
  }

  test("means ending in 5 round half away from zero") {
    assert(Stats.expectedRow(Tally(0, 0, 725, 10))._2 == 7.3)
    assert(Stats.expectedRow(Tally(0, 0, -725, 10))._2 == -7.3)
    assert(Stats.expectedRow(Tally(0, 0, 3, 2))._2 == 0.2)   // 0.15
    assert(Stats.expectedRow(Tally(0, 0, -3, 2))._2 == -0.2)
    assert(Stats.expectedRow(Tally(0, 0, -1, 2))._2 == -0.1) // -0.05
    assert(Stats.expectedRow(Tally(0, 0, 1, 3))._2 == 0.0)   // 0.0333
  }

  test("expected rows match the program's tenths projection") {
    val spark = SparkSession.builder().master("local[1]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC").getOrCreate()
    try {
      import spark.implicits._
      val r = new scala.util.Random(7)
      val edge = Seq(Tally(-999, 999, 725, 10), Tally(-999, -1, -725, 10),
        Tally(-5, -5, -5, 1), Tally(0, 0, 0, 3), Tally(-3, 0, -3, 2),
        Tally(1, 2, 3, 2), Tally(-10, 10, 85, 2), Tally(-10, 10, -85, 2))
      val random = (1 to 2000).map { _ =>
        val c = 1L + r.nextInt(5000)
        Tally(-999, 999, ((r.nextDouble() * 2 - 1) * 999 * c).toLong, c)
      }
      val all = (edge ++ random).zipWithIndex
      val got = graft.onebrc.OneBrc.tenthsFinal(
        all.map { case (t, i) => (f"s$i%05d", t.min, t.max, t.sum, t.count) }
          .toDF("station", "minT", "maxT", "sumT", "cnt"))
        .collect().map(x => x.getString(0) -> ((x.getDouble(1), x.getDouble(2), x.getDouble(3))))
        .toMap
      all.foreach { case (t, i) =>
        assert(got(f"s$i%05d") == Stats.expectedRow(t), s"tally $t")
      }
    } finally spark.stop()
  }

  test("the generator formats tenths as 1BRC text") {
    def fmt(t: Long) = { val o = new java.io.ByteArrayOutputStream; Gen.formatTenths(t, o); o.toString("UTF-8") }
    assert(Seq(-999L, -100L, -5L, 0L, 5L, 99L, 100L, 999L).map(fmt) ==
      Seq("-99.9", "-10.0", "-0.5", "0.0", "0.5", "9.9", "10.0", "99.9"))
  }

  test("the generator's file and tallies agree, whatever the thread count") {
    Files.createDirectories(java.nio.file.Paths.get(sys.props("java.io.tmpdir")))
    val dirs = Seq(1, 3).map { threads =>
      val d = Files.createTempDirectory("perfbench-gen")
      Gen.main(Array("--kind", "10k", "--rows", "50000", "--seed", "5",
        "--out", d.toString, "--threads", threads.toString))
      d
    }
    val files = dirs.map(d => Files.readAllBytes(d.resolve("measurements.txt")))
    assert(java.util.Arrays.equals(files(0), files(1)))
    val recount = Files.readAllLines(dirs(0).resolve("measurements.txt"), UTF_8).asScala
      .map { l =>
        val i = l.lastIndexOf(';')
        assert(l.substring(0, i).getBytes(UTF_8).length <= 100)
        l.substring(0, i) -> math.round(l.substring(i + 1).toDouble * 10)
      }
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).foldLeft(Tally.empty)(_ add _) }
    val tallies = Files.readAllLines(dirs(0).resolve("tallies.tsv"), UTF_8).asScala.map { l =>
      val f = l.split('\t'); f(0) -> Tally(f(1).toLong, f(2).toLong, f(3).toLong, f(4).toLong)
    }.toMap
    assert(recount == tallies)
    assert(tallies.values.map(_.count).sum == 50000)
    val manifest = Harness.readManifest(dirs(0).toString)
    assert(manifest("bytes").toLong == files(0).length)
    assert(Gen.stations("10k", 5).map(_.name).distinct.size == 10000)
    dirs.foreach { d =>
      Files.list(d).iterator().asScala.foreach(Files.delete); Files.delete(d)
    }
  }
}
