package graft.perfbench

import java.io.{BufferedOutputStream, FileOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.SplittableRandom
import java.util.concurrent.{Callable, Executors}

import scala.jdk.CollectionConverters._

/** The benchmark's own seeded 1BRC input generator. It does not call the
  * program, so a change to the program cannot change the workload.
  *
  *   Gen --kind 413|10k --rows N --seed S --out DIR --threads T
  *
  * writes DIR/measurements.txt (`station;t.t` lines), DIR/tallies.tsv (exact
  * per-station min/max/sum/count in integer tenths) and, last, DIR/manifest
  * (key=value lines, the cache's completeness marker). The rows are cut into
  * a fixed number of chunks, each with its own RNG, so the file does not
  * depend on how many threads made it.
  *
  * Stations: `413` is the reference's (city, mean) table with values drawn
  * from Normal(mean, sd), sd ~ Normal(10, 2.5) per station; `10k` is 10,000
  * names of 1–100 UTF-8 bytes (lengths skewed short, mixing 1-, 2- and
  * 3-byte characters) with means drawn from Uniform(-20, 35).
  */
object Gen {
  val version = 1
  private val chunks = 64

  final case class Station(name: String, mean: Double, sd: Double)

  private def rng(seed: Long, stream: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + stream)

  /** Standard normal by the polar method on StrictMath, so every JVM draws
    * the same values. */
  def gauss(r: SplittableRandom): Double = {
    var u, v, s = 0.0
    while ({
      u = 2 * r.nextDouble() - 1; v = 2 * r.nextDouble() - 1; s = u * u + v * v
      s >= 1 || s == 0
    }) ()
    u * StrictMath.sqrt(-2 * StrictMath.log(s) / s)
  }

  private def sd(r: SplittableRandom): Double =
    math.max(0.5, 10.0 + 2.5 * gauss(r))

  def stations(kind: String, seed: Long): IndexedSeq[Station] = {
    val r = rng(seed, -1L)
    kind match {
      case "413" =>
        val src = scala.io.Source.fromInputStream(
          getClass.getResourceAsStream("/perfbench/stations413.csv"), "UTF-8")
        val lut = try src.getLines().toVector finally src.close()
        lut.map { l =>
          val i = l.lastIndexOf(';')
          Station(l.substring(0, i), l.substring(i + 1).toDouble, sd(r))
        }
      case "10k" =>
        val seen = new java.util.HashSet[String]
        val out = Vector.newBuilder[Station]
        while (seen.size < 10000) {
          val n = name(r)
          if (seen.add(n)) out += Station(n, -20.0 + 55.0 * r.nextDouble(), sd(r))
        }
        out.result()
      case other => throw new IllegalArgumentException(s"unknown station set $other")
    }
  }

  private val ascii = ('a' to 'z') ++ ('A' to 'Z')
  private val twoByte = "éèüößçñøåÉÖÅ".toVector
  private val threeByte = "東京北大阪市町村山川".toVector

  /** A name of 1–100 UTF-8 bytes; length = 1 + floor(99 u^3), mean ~26. */
  private def name(r: SplittableRandom): String = {
    val target = 1 + (99 * math.pow(r.nextDouble(), 3)).toInt
    val sb = new StringBuilder
    var bytes = 0
    while (bytes < target) {
      val x = r.nextDouble()
      val c =
        if (x < 0.1 && target - bytes >= 3) threeByte(r.nextInt(threeByte.size))
        else if (x < 0.3 && target - bytes >= 2) twoByte(r.nextInt(twoByte.size))
        else ascii(r.nextInt(ascii.size))
      sb += c
      bytes += c.toString.getBytes(UTF_8).length
    }
    sb.toString
  }

  /** `t` tenths as the 1BRC text form: optional '-', 1–2 digits, '.', digit. */
  def formatTenths(t: Long, out: java.io.ByteArrayOutputStream): Unit = {
    val a = math.abs(t)
    if (t < 0) out.write('-')
    if (a >= 100) out.write('0' + (a / 100).toInt)
    out.write('0' + (a / 10 % 10).toInt)
    out.write('.')
    out.write('0' + (a % 10).toInt)
  }

  private final class Chunk(val bytes: Array[Byte], val min: Array[Long],
      val max: Array[Long], val sum: Array[Long], val count: Array[Long])

  private def chunk(st: IndexedSeq[Station], names: Array[Array[Byte]],
      seed: Long, idx: Int, rows: Long): Chunk = {
    val n = st.size
    val (min, max, sum, count) = (Array.fill(n)(Long.MaxValue),
      Array.fill(n)(Long.MinValue), new Array[Long](n), new Array[Long](n))
    val r = rng(seed, idx)
    val out = new java.io.ByteArrayOutputStream((rows * 32).toInt)
    var i = 0L
    while (i < rows) {
      val s = r.nextInt(n)
      val v = st(s).mean + st(s).sd * gauss(r)
      val t = math.max(-999L, math.min(999L, math.round(v * 10)))
      out.write(names(s)); out.write(';'); formatTenths(t, out); out.write('\n')
      if (t < min(s)) min(s) = t
      if (t > max(s)) max(s) = t
      sum(s) += t; count(s) += 1
      i += 1
    }
    new Chunk(out.toByteArray, min, max, sum, count)
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val (kind, rows, seed) = (opt("kind"), opt("rows").toLong, opt("seed").toLong)
    val dir = Paths.get(opt("out"))
    val threads = math.max(1, opt.getOrElse("threads", "1").toInt)
    val t0 = System.nanoTime()
    Files.createDirectories(dir)
    val st = stations(kind, seed)
    val names = st.map(_.name.getBytes(UTF_8)).toArray
    val n = st.size
    val (min, max, sum, count) = (Array.fill(n)(Long.MaxValue),
      Array.fill(n)(Long.MinValue), new Array[Long](n), new Array[Long](n))
    val pool = Executors.newFixedThreadPool(threads)
    val data = dir.resolve("measurements.txt.tmp")
    val os = new BufferedOutputStream(new FileOutputStream(data.toFile), 1 << 20)
    var bytes = 0L
    try {
      // waves of `threads` chunks: generated in parallel, written in order
      (0 until chunks).grouped(threads).foreach { wave =>
        val futures = pool.invokeAll(wave.map { c =>
          new Callable[Chunk] {
            def call(): Chunk = chunk(st, names, seed, c,
              rows * (c + 1) / chunks - rows * c / chunks)
          }
        }.asJava).asScala
        futures.map(_.get).foreach { c =>
          os.write(c.bytes); bytes += c.bytes.length
          var s = 0
          while (s < n) {
            min(s) = math.min(min(s), c.min(s)); max(s) = math.max(max(s), c.max(s))
            sum(s) += c.sum(s); count(s) += c.count(s)
            s += 1
          }
        }
      }
    } finally { os.close(); pool.shutdown() }
    Files.move(data, dir.resolve("measurements.txt"),
      StandardCopyOption.REPLACE_EXISTING)
    val tallies = (0 until n).filter(count(_) > 0).map { s =>
      s"${st(s).name}\t${min(s)}\t${max(s)}\t${sum(s)}\t${count(s)}"
    }
    Files.write(dir.resolve("tallies.tsv"), tallies.asJava, UTF_8)
    val manifest = Seq("generator_version" -> version, "kind" -> kind,
      "seed" -> seed, "rows" -> rows, "stations" -> tallies.size,
      "bytes" -> bytes, "gen_s" -> f"${(System.nanoTime() - t0) / 1e9}%.3f")
    Files.write(dir.resolve("manifest.tmp"),
      manifest.map { case (k, v) => s"$k=$v" }.asJava, UTF_8)
    Files.move(dir.resolve("manifest.tmp"), dir.resolve("manifest"),
      StandardCopyOption.ATOMIC_MOVE)
  }
}
