package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded JSON corpora and the answers an ingest of them must produce.
  * Every record is a pure function of (seed, id), so a lookup can be
  * checked by regenerating the record.
  */
object Corpus {

  /** What a correct ingest of a corpus lands. `failed` holds file
    * basenames; `idSum` and `textLen` sum the `id` column and the
    * length of the `text` column over the landed rows.
    */
  final case class Truth(files: Int, failed: Set[String], records: Long,
      columns: Set[String], idSum: Long, textLen: Long, bytes: Long, goodIds: IndexedSeq[Long])

  private val Words = ("ingest schema record batch stream file table column key value " +
    "null nested array object parse scan write read merge flat lineage source").split(' ')
  private val Kinds = Array("order", "event", "profile")
  private val Cities = Array("Lagos", "Lima", "Oslo", "Pune", "Quito", "Riga", "Seoul", "Tunis")

  private def rng(seed: Long, id: Long) = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + id)

  private def words(r: SplittableRandom, n: Int): String =
    Iterator.fill(n)(Words(r.nextInt(Words.length))).mkString(" ")

  private def user(r: SplittableRandom): String = {
    val u = r.nextInt(5000)
    s"""{"id":$u,"name":"user_$u","tier":"${if (u % 7 == 0) "gold" else "basic"}"}"""
  }

  /** (kind, text) of a line-corpus record: what a point lookup returns. */
  def expect(seed: Long, id: Long): (String, String) = {
    val r = rng(seed, id)
    (Kinds(r.nextInt(3)), words(r, 6 + r.nextInt(24)))
  }

  /** One JSONL record from one of three overlapping key families
    * (shared `id`, `kind`, `text`, `user`, `ts`), with nested objects and
    * arrays. Returns the line and its top-level keys.
    */
  private def lineRecord(seed: Long, id: Long): (String, Seq[String]) = {
    val r = rng(seed, id)
    val kind = Kinds(r.nextInt(3))
    val text = words(r, 6 + r.nextInt(24))
    val ts = f"2024-0${1 + r.nextInt(9)}-${1 + r.nextInt(28)}%02dT${r.nextInt(24)}%02d:${r.nextInt(60)}%02d:00Z"
    val common = s""""id":$id,"kind":"$kind","text":"$text","user":${user(r)},"ts":"$ts""""
    kind match {
      case "order" =>
        val items = Seq.fill(1 + r.nextInt(4))(
          s"""{"sku":"S${r.nextInt(10000)}","qty":${1 + r.nextInt(9)}}""").mkString(",")
        (s"""{$common,"amount":${r.nextInt(100000) / 100.0},"items":[$items]}""",
          Seq("amount", "items"))
      case "event" =>
        (s"""{$common,"event":"${Words(r.nextInt(Words.length))}","props":{"page":"/p/${r.nextInt(500)}","ms":${r.nextInt(2000)},"flags":["a","b"]}}""",
          Seq("event", "props"))
      case _ =>
        val c = Cities(r.nextInt(Cities.length))
        (s"""{$common,"email":"u$id@example.com","address":{"city":"$c","geo":{"lat":${r.nextInt(180) - 90},"lon":${r.nextInt(360) - 180}}},"scores":[${r.nextInt(10)},${r.nextInt(10)}]}""",
          Seq("address", "email", "scores"))
    }
  }

  private val Common = Seq("id", "kind", "text", "user", "ts")

  /** One generated file: its name and size, and the part of the truth it
    * contributes when it ingests cleanly.
    */
  private final case class FileOut(name: String, bytes: Long, keys: Set[String],
      idSum: Long, textLen: Long, ids: IndexedSeq[Long])

  /** Generate and write `files` files on a small thread pool; `body`
    * returns a file's name, its content and its truth part.
    */
  private def writeAll(dir: Path, files: Int)(body: Int => (String, String, FileOut)): IndexedSeq[FileOut] = {
    Files.createDirectories(dir)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(4, Runtime.getRuntime.availableProcessors()))
    try {
      val futures = (0 until files).map(f => pool.submit(new java.util.concurrent.Callable[FileOut] {
        def call(): FileOut = {
          val (name, content, out) = body(f)
          val bytes = content.getBytes(UTF_8)
          Files.write(dir.resolve(name), bytes)
          out.copy(name = name, bytes = bytes.length.toLong)
        }
      }))
      futures.map(_.get())
    } finally pool.shutdown()
  }

  private def truth(outs: IndexedSeq[FileOut], bad: Int => Boolean, fixed: Seq[String]): Truth = {
    val good = outs.indices.filterNot(bad).map(outs)
    Truth(outs.size, outs.indices.filter(bad).map(outs(_).name).toSet,
      good.map(_.ids.size.toLong).sum, (fixed ++ good.flatMap(_.keys)).toSet,
      good.map(_.idSum).sum, good.map(_.textLen).sum, outs.map(_.bytes).sum, good.flatMap(_.ids))
  }

  /** `files` JSONL files of `perFile` records; `corrupt` of them (chosen
    * from the seed) carry one truncated line, which fails the whole file.
    */
  def jsonl(dir: Path, seed: Long, files: Int, perFile: Int, corrupt: Int): Truth = {
    val bad = new SplittableRandom(seed).ints(0, files).distinct().limit(math.min(corrupt, files).toLong)
      .toArray.toSet
    val outs = writeAll(dir, files) { f =>
      val sb = new java.lang.StringBuilder
      val keys = mutable.Set.empty[String]
      var idSum, textLen = 0L
      val ids = (0 until perFile).map(i => f.toLong * perFile + i)
      ids.foreach { id =>
        if (bad(f) && id == ids(perFile / 2)) sb.append(s"""{"id":$id,"kind":"order","user":{"id":""")
        else {
          val (line, extra) = lineRecord(seed, id)
          sb.append(line)
          keys ++= extra
          idSum += id
          textLen += expect(seed, id)._2.length
        }
        sb.append('\n')
      }
      (f"part-$f%05d.jsonl", sb.toString, FileOut("", 0, keys.toSet, idSum, textLen, ids))
    }
    truth(outs, bad, Common :+ "_source_file")
  }

  /** `files` multiLine JSON documents, each an array of `perFile`
    * records nested three levels deep. Files rotate through three key
    * sets; every 8th file mixes scalars between its objects (the scalars
    * are dropped), and `malformed` of the others (chosen from the seed)
    * are truncated (whole-file failures).
    */
  def jsonFiles(dir: Path, seed: Long, files: Int, perFile: Int, malformed: Int): Truth = {
    def mixed(f: Int) = f % 8 == 7
    val bad = new SplittableRandom(seed ^ 0x5DEECE66DL).ints(0, files).filter(!mixed(_)).distinct()
      .limit(math.min(malformed, files - files / 8).toLong).toArray.toSet
    val outs = writeAll(dir, files) { f =>
      val ids = (0 until perFile).map(i => f.toLong * perFile + i)
      var textLen = 0L
      val recs = ids.map { id =>
        val r = rng(seed, id)
        val text = words(r, 2 + r.nextInt(8))
        textLen += text.length
        val base = s""""id":$id,"text":"$text","profile":{"age":${18 + r.nextInt(60)},"address":{"city":"${Cities(r.nextInt(Cities.length))}","zip":"${10000 + r.nextInt(89999)}"}},"tags":["${Words(r.nextInt(Words.length))}"]"""
        f % 3 match {
          case 0 => s"""{$base,"segment":"${Kinds(r.nextInt(3))}"}"""
          case 1 => s"""{$base,"meta":{"src":"s${r.nextInt(9)}","v":${r.nextInt(99)}}}"""
          case _ => s"{$base}"
        }
      }
      val elems = if (mixed(f)) recs.flatMap(r => Seq(r, "42", "\"note\"")) else recs
      val doc = elems.mkString("[\n", ",\n", "\n]\n")
      val keys = f % 3 match { case 0 => Set("segment"); case 1 => Set("meta"); case _ => Set.empty[String] }
      (f"doc-$f%05d.json", if (bad(f)) doc.dropRight(12) else doc,
        FileOut("", 0, keys, ids.sum, textLen, ids))
    }
    truth(outs, bad, Seq("id", "text", "profile", "tags", "_source_file"))
  }
}
