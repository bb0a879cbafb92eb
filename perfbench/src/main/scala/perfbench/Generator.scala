package perfbench

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.{MessageType, MessageTypeParser}
import java.io.File
import scala.util.Random

/** Seeded input generator. Every row is a pure function of (seed, file or
  * doc index), so one seed always yields the same inputs, whatever the
  * write parallelism. The product sees only the files written here.
  */
object Generator {

  val DayMs: Long = 86400000L
  /** 2024-01-01T00:00Z, the first day of the repo's `events` test table. */
  val EventsStartMs: Long = 1704067200000L

  /** One row of the `events` schema (`ts` as epoch nanoseconds). */
  final case class Event(eventId: Long, tsNanos: Long, userId: Long,
      eventType: String, value: Double, props: String) {
    def values: Seq[Any] = Seq(eventId, tsNanos, userId, eventType, value, props)
  }

  /** One row of the `documents` schema. */
  final case class Doc(docId: Long, text: String, lang: String, source: String) {
    def values: Seq[Any] = Seq(docId, text, lang, source, text.length.toLong)
  }

  /** The `events` table's columns, `ts` as a plain int64 of nanoseconds. */
  val eventsSchema: MessageType = MessageTypeParser.parseMessageType(
    """message events { optional int64 event_id; optional int64 ts;
      |optional int64 user_id; optional binary event_type (UTF8);
      |optional double value; optional binary props (UTF8); }""".stripMargin)

  val docsSchema: MessageType = MessageTypeParser.parseMessageType(
    """message documents { optional int64 doc_id; optional binary text (UTF8);
      |optional binary lang (UTF8); optional binary source (UTF8);
      |optional int64 n_chars; }""".stripMargin)

  private val EventTypes = IndexedSeq("click", "view", "purchase", "signup", "error")
  /** The shape of the repo's `documents` test table (FIXTURES.md; measured
    * on its sf0.01 and sf0.1 files): texts of 10 to 99 words drawn evenly
    * from these 30 words, `en` for 40% of docs and the four other languages
    * evenly, 20 sources, and 5% of docs a near-copy made by appending the
    * word `dup` to another doc's text.
    */
  private val Langs = IndexedSeq("de", "fr", "es", "zh")
  private val Words = IndexedSeq(
    "a", "agg", "batch", "big", "column", "customer", "data", "fast", "filter",
    "group", "hash", "join", "key", "line", "merge", "order", "part", "query", "row",
    "scan", "slow", "small", "sort", "spark", "stream", "table", "the", "value",
    "vector", "window")
  val CopyShare: Double = 0.05

  /** Per-stream randomness: splits (seed, stream, index) into one seed. */
  def rng(seed: Long, stream: Int, index: Long): Random =
    new Random(seed * 0x9E3779B97F4A7C15L ^ (stream.toLong << 48) ^ index * 0xBF58476D1CE4E5B9L)

  /** `CdcView.fromEvents` derives an event's record ids, commit-time
    * encoding and flash flag from its id modulo 4, 11 and 13: every field
    * that decides how many payloads an event delivers repeats every 572 ids.
    */
  val IdPeriod = 572

  /** The events of CDC file `file`: `perFile` events with ids
    * `file * perFile + j`, of which `current` (at seeded positions) carry a
    * commit time after the listener's since-cutoff and the rest a time
    * before it. Event ids are time-ordered in the `events` test table, so ids
    * alone cannot decide which side of the cutoff an event falls on; the
    * generated `ts` does. When a file holds more than `current` whole
    * [[IdPeriod]]s, the current events sit in seeded periods at fixed id
    * residues, so every file delivers the same number of payloads: a few
    * current events among many would otherwise make the delivery count a
    * draw of the seed.
    */
  def eventFile(seed: Long, file: Int, perFile: Int, current: Int): IndexedSeq[Event] = {
    val r = rng(seed, 1, file)
    val periods = perFile / IdPeriod - 1
    val currentAt: Set[Int] =
      if (current >= perFile) (0 until perFile).toSet
      else if (periods >= current) r.shuffle((0 until periods).toVector).take(current)
        .zipWithIndex.map { case (k, i) =>
          k * IdPeriod + Math.floorMod(i * (IdPeriod / current) - file.toLong * perFile,
            IdPeriod.toLong).toInt
        }.toSet
      else r.shuffle((0 until perFile).toVector).take(current).toSet
    val cutoff = graft.cdc.CdcView.SinceCutoffMs
    (0 until perFile).map { j =>
      val ms =
        if (currentAt(j)) cutoff + DayMs + (r.nextDouble() * 20 * DayMs).toLong
        else EventsStartMs + (r.nextDouble() * (cutoff - DayMs - EventsStartMs)).toLong
      Event(file.toLong * perFile + j, ms * 1000000L + r.nextInt(1000000),
        r.nextInt(100).toLong, EventTypes(r.nextInt(EventTypes.size)),
        r.nextInt(100000) / 100.0, s"""{"k": ${r.nextInt(100)}}""")
    }
  }

  /** File index of an event id under [[eventFile]]'s numbering. */
  def fileOfEvent(eventId: Long, perFile: Int): Int = (eventId / perFile).toInt

  /** A document shaped like a row of the `documents` table. */
  def doc(seed: Long, id: Long): Doc = {
    val r = rng(seed, 2, id)
    val n = 10 + r.nextInt(90)
    val lang = if (r.nextDouble() < 0.4) "en" else Langs(r.nextInt(Langs.size))
    Doc(id, Seq.fill(n)(Words(r.nextInt(Words.size))).mkString(" "), lang,
      s"src${r.nextInt(20)}")
  }

  /** A near-copy of `of` as the `documents` table makes them: the same text
    * plus the word `dup`, so its word-trigram set gains one trigram.
    */
  def nearCopy(id: Long, of: Doc): Doc = of.copy(docId = id, text = of.text + " dup")

  /** The ingest workload's inputs: a corpus of `2 * half` docs split by a
    * seeded shuffle into the stored index's half and the arriving half;
    * the arriving half comes `fresh` docs per file, each file plus `copies`
    * near-copies of docs that are already in the index or arrived in an
    * earlier file ([[copiesPer]] gives the table's near-copy share).
    */
  final case class IngestInputs(index: IndexedSeq[Doc], files: IndexedSeq[IndexedSeq[Doc]])

  val CopyIdBase: Long = 10000000L

  /** Near-copies to add to `fresh` docs so they are [[CopyShare]] of a file. */
  def copiesPer(fresh: Int): Int = math.round(fresh * CopyShare / (1 - CopyShare)).toInt

  def ingestInputs(seed: Long, half: Int, fresh: Int, copies: Int): IngestInputs = {
    val r = rng(seed, 4, 0)
    val ids = r.shuffle((0L until 2L * half).toVector)
    val index = ids.take(half).map(doc(seed, _))
    val arriving = ids.drop(half).grouped(fresh).map(_.map(doc(seed, _))).toVector
    val earlier = scala.collection.mutable.ArrayBuffer.from(index)
    var nextCopy = CopyIdBase
    val files = arriving.map { fresh =>
      val cs = (0 until copies).map { _ =>
        val c = nearCopy(nextCopy, earlier(r.nextInt(earlier.size)))
        nextCopy += 1
        c
      }
      earlier ++= fresh
      r.shuffle(fresh ++ cs)
    }
    IngestInputs(index, files)
  }

  /** Write one parquet file of `rows` (values in `schema`'s field order). */
  def writeParquet(file: File, schema: MessageType, rows: Iterator[Seq[Any]]): Unit = {
    val conf = new Configuration()
    val w = ExampleParquetWriter.builder(new Path(file.toURI)).withType(schema)
      .withConf(conf).build()
    val groups = new SimpleGroupFactory(schema)
    try rows.foreach { vs =>
      val g = groups.newGroup()
      vs.zipWithIndex.foreach {
        case (v: Long, i)   => g.append(schema.getFieldName(i), v)
        case (v: Double, i) => g.append(schema.getFieldName(i), v)
        case (v: String, i) => g.append(schema.getFieldName(i), v)
        case (v, i) => sys.error(s"unsupported value $v for ${schema.getFieldName(i)}")
      }
      w.write(g)
    } finally w.close()
  }

  /** Write `rows(i)` for i in 0 until n as one parquet file each, named
    * `f00000.parquet`… under `dir`, with modification times increasing in
    * file order (a file-stream source takes files oldest first). Written
    * in this process, not by Spark tasks, a few files at a time.
    */
  def writeFiles(dir: File, n: Int, schema: MessageType)(
      rows: Int => Seq[Seq[Any]]): IndexedSeq[File] = {
    dir.mkdirs()
    val base = System.currentTimeMillis() - n * 1000L
    val out = (0 until n).map(i => new File(dir, f"f$i%05d.parquet"))
    java.util.stream.IntStream.range(0, n).parallel().forEach { i =>
      writeParquet(out(i), schema, rows(i).iterator)
      out(i).setLastModified(base + i * 1000L)
    }
    // the writer's hidden .crc side files are not inputs
    Option(dir.listFiles()).toSeq.flatten.filter(_.getName.endsWith(".crc")).foreach(_.delete())
    out
  }
}

object Files {
  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** Regular files under `f` whose name ends in `suffix`, skipping the
    * `_temporary` directories of writes still in flight.
    */
  def listTree(f: File, suffix: String): Seq[File] =
    if (f.isDirectory) {
      if (f.getName == "_temporary") Nil
      else Option(f.listFiles()).toSeq.flatten.flatMap(listTree(_, suffix))
    } else if (f.getName.endsWith(suffix)) Seq(f) else Nil
}
