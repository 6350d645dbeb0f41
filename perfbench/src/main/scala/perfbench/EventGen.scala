package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.schema.MessageTypeParser

/** Generator parameters. Every value and the reason for it is listed in
  * perfbench/README.md.
  */
final case class GenParams(
    events: Int,
    files: Int,
    accounts: Int,
    zipfS: Double,
    typeWeights: Seq[(String, Double)],
    lateShare: Double,
    lateMaxDays: Int,
    days: Int,
    /** Reserved account whose one event per file tells which files are readable. */
    markerAccount: Long)

/** One tracking event, as the library's event schema holds it. */
final case class Ev(id: Long, tsMicros: Long, user: Long, kind: String, cents: Long, k: Int)

/** Seeded synthetic tracking events.
  *
  * File `i` of `n` covers the i-th slice of `days` calendar days from
  * 2024-01-01; a `lateShare` of each file's events lie up to `lateMaxDays`
  * days before its slice (never before 2024-01-01). Accounts follow a Zipf law with exponent
  * `zipfS`; event types follow `typeWeights`. The same seed gives the
  * same events, and [[write]] turns them into byte-identical files.
  */
object EventGen {
  val Epoch2024Micros: Long = 1704067200L * 1000000L
  private val DayMicros = 86400L * 1000000L
  val MarkerType = "marker"
  /** The day every marker event falls on; the probe reads its counter. */
  val MarkerDay = "2024-01-01"

  /** Events grouped by file, in file order. */
  def generate(p: GenParams, seed: Long): IndexedSeq[IndexedSeq[Ev]] = {
    val rng = new java.util.SplittableRandom(seed)
    val zipf = cdfOf((1 to p.accounts).map(r => 1.0 / math.pow(r, p.zipfS)))
    val types = p.typeWeights.map(_._1).toIndexedSeq
    val typeCdf = cdfOf(p.typeWeights.map(_._2))
    val perFile = p.events / p.files
    val span = p.days * DayMicros
    var id = 0L
    (0 until p.files).map { f =>
      val sliceStart = Epoch2024Micros + span * f / p.files
      val sliceEnd = Epoch2024Micros + span * (f + 1) / p.files
      val evs = (0 until perFile).map { _ =>
        val onTime = sliceStart + (rng.nextDouble() * (sliceEnd - sliceStart)).toLong
        val ts =
          if (rng.nextDouble() < p.lateShare) math.max(Epoch2024Micros,
            sliceStart - 1 - (rng.nextDouble() * p.lateMaxDays * DayMicros).toLong)
          else onTime
        val e = Ev(id, ts, draw(zipf, rng.nextDouble()), types(draw(typeCdf, rng.nextDouble())),
          rng.nextInt(10000).toLong, rng.nextInt(100))
        id += 1
        e
      }
      val marker = Ev(id, Epoch2024Micros + f, p.markerAccount, MarkerType, 100, 0)
      id += 1
      evs :+ marker
    }
  }

  def cdfOf(w: Seq[Double]): Array[Double] = {
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total).toArray
  }

  /** Index of the first cdf entry at or above `u`. */
  def draw(cdf: Array[Double], u: Double): Int = {
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(if (i >= 0) i else -i - 1, cdf.length - 1)
  }

  private val schema = MessageTypeParser.parseMessageType(
    """message spark_schema {
      |  required int64 event_id;
      |  required int64 ts (TIMESTAMP(MICROS,true));
      |  required int64 user_id;
      |  required binary event_type (STRING);
      |  required double value;
      |  required binary props (STRING);
      |}""".stripMargin)

  /** Writes one parquet file with the events' library schema. */
  /** One Hadoop configuration for every file: building one parses the
    * default resources again, which cost more than writing a file.
    */
  private lazy val hadoopConf = new Configuration()

  private def writeFile(evs: Seq[Ev], target: Path): Unit = {
    val staging = Files.createTempDirectory(target.getParent, ".gen")
    val tmp = staging.resolve("f.parquet")
    val w = ExampleParquetWriter.builder(new HPath(tmp.toUri))
      .withType(schema).withConf(hadoopConf)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE).build()
    val g = new SimpleGroupFactory(schema)
    try evs.foreach { e =>
      w.write(g.newGroup().append("event_id", e.id).append("ts", e.tsMicros)
        .append("user_id", e.user).append("event_type", e.kind)
        .append("value", e.cents / 100.0).append("props", s"""{"k": ${e.k}}"""))
    } finally w.close()
    Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
    Files.list(staging).forEach(f => Files.delete(f)) // the writer's .crc sidecar
    Files.delete(staging)
  }

  /** Writes each file group as `part-<i>.parquet` under `dir`, with
    * modification times one second apart in file order (the file source
    * admits files in modification-time order).
    */
  def write(files: Seq[Seq[Ev]], dir: Path, firstMtimeMs: Long): Seq[Path] = {
    Files.createDirectories(dir)
    files.zipWithIndex.map { case (evs, i) =>
      val f = dir.resolve(fileName(i))
      writeFile(evs, f)
      Files.setLastModifiedTime(f, java.nio.file.attribute.FileTime.fromMillis(firstMtimeMs + i * 1000L))
      f
    }
  }

  def fileName(i: Int): String = f"part-$i%05d.parquet"

  /** Counter key → (events, cents) for the library's two runners. */
  final class Reference {
    val cube = mutable.HashMap.empty[String, (Long, Long)]
    val account = mutable.HashMap.empty[String, (Long, Long)]

    private def bump(m: mutable.HashMap[String, (Long, Long)], k: String, c: Long): Unit = {
      val (n, s) = m.getOrElse(k, (0L, 0L))
      m(k) = (n + 1, s + c)
    }

    def add(evs: Seq[Ev]): this.type = {
      evs.foreach { e =>
        val t = java.time.LocalDateTime.ofEpochSecond(
          Math.floorDiv(e.tsMicros, 1000000L), 0, java.time.ZoneOffset.UTC)
        val month = f"${t.getYear}%04d-${t.getMonthValue}%02d"
        val day = f"$month-${t.getDayOfMonth}%02d"
        bump(cube, f"${e.kind}/hour/$day-${t.getHour}%02d", e.cents)
        bump(cube, s"${e.kind}/day/$day", e.cents)
        bump(cube, s"${e.kind}/month/$month", e.cents)
        bump(cube, f"${e.kind}/year/${t.getYear}%04d", e.cents)
        bump(account, s"user/${e.user}/${e.kind}/day/$day", e.cents)
      }
      this
    }
  }
}
