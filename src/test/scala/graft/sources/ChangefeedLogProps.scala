package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import scala.jdk.CollectionConverters._

import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll

/** Property tests for the changefeed log's wire format: arbitrary
  * strings (tabs, newlines, backslashes, the NULL marker, unicode)
  * must survive the escape → TSV segment → parse round-trip exactly,
  * and segment names must agree with their contents' range. */
object ChangefeedLogProps extends Properties("ChangefeedLog") {

  private val trickyChar: Gen[Char] = Gen.frequency(
    5 -> Gen.alphaNumChar,
    1 -> Gen.oneOf('\t', '\n', '\r', '\\', 'N', ' ', '"', '{', '}'),
    1 -> Gen.oneOf('é', '中', ' '))

  private val trickyString: Gen[String] =
    Gen.listOf(trickyChar).map(_.mkString)

  private val record: Gen[ChangefeedLog.Record] = for {
    us <- Gen.chooseNum(0L, Long.MaxValue / 4)
    tbl <- Gen.option(trickyString)
    key <- Gen.option(trickyString)
    value <- trickyString
  } yield ChangefeedLog.Record(us, tbl, key, value)

  property("esc/unesc round-trips any string") = forAll(trickyString) { s =>
    val line = s"0\t\\N\t\\N\t${ChangefeedLog.esc(s)}".getBytes(UTF_8)
    ChangefeedLog.parse(line).toList == List(ChangefeedLog.Record(0L, None, None, s))
  }

  /** The String parser the byte parser replaced, kept as the reference:
    * `readAllLines`, blank lines dropped, split at the first three tabs,
    * `\N` as NULL for tbl/key, char-by-char unescape. */
  private object Reference {
    def unesc(s: String): String = {
      val b = new StringBuilder(s.length)
      var i = 0
      while (i < s.length) {
        val c = s.charAt(i)
        if (c == '\\' && i + 1 < s.length) {
          s.charAt(i + 1) match {
            case '\\' => b.append('\\'); i += 2
            case 't' => b.append('\t'); i += 2
            case 'n' => b.append('\n'); i += 2
            case 'r' => b.append('\r'); i += 2
            case 'N' => b.append("\\N"); i += 2
            case other => b.append(c).append(other); i += 2
          }
        } else { b.append(c); i += 1 }
      }
      b.toString
    }

    def parse(line: String): ChangefeedLog.Record = {
      val parts = line.split("\t", 4)
      require(parts.length == 4, s"malformed changefeed log line: $line")
      def opt(s: String): Option[String] = if (s == "\\N") None else Some(unesc(s))
      ChangefeedLog.Record(parts(0).toLong, opt(parts(1)), opt(parts(2)), unesc(parts(3)))
    }

    def read(bytes: Array[Byte]): List[ChangefeedLog.Record] = {
      val f = Files.createTempFile("cflog-ref", ".log")
      try {
        Files.write(f, bytes)
        Files.readAllLines(f, UTF_8).asScala.filter(_.nonEmpty).map(parse).toList
      } finally Files.delete(f)
    }
  }

  /** Both parsers over the same bytes: the records, or the class of
    * what was thrown. */
  private def both(bytes: Array[Byte]): (Either[Class[_], List[ChangefeedLog.Record]],
      Either[Class[_], List[ChangefeedLog.Record]]) = {
    def run(f: => List[ChangefeedLog.Record]) =
      try Right(f) catch { case e: Exception => Left(e.getClass) }
    (run(ChangefeedLog.parse(bytes).toList), run(Reference.read(bytes)))
  }

  // raw field text, written without esc: escapes known and unknown,
  // `\N` alone or inside, trailing backslashes, raw tabs past the
  // third, multi-byte characters (2, 3 and 4 bytes)
  private val rawField: Gen[String] = Gen.frequency(
    4 -> Gen.listOf(Gen.frequency(
      6 -> Gen.alphaNumChar.map(_.toString),
      2 -> Gen.oneOf("\\\\", "\\t", "\\n", "\\r", "\\N", "\\x", "\\", "\\\\N"),
      1 -> Gen.oneOf(" ", "\"", "{", "}", "\u00e9", "\u4e2d", "\ud83d\ude00", "\ufffd"))).map(_.mkString),
    1 -> Gen.const("\\N"),
    1 -> Gen.const(""))

  private val sortUsText: Gen[String] = Gen.frequency(
    12 -> Gen.chooseNum(0L, Long.MaxValue).map(_.toString),
    1 -> Gen.oneOf("", "12x", "+7", "-3", "007", "9223372036854775808", " 1",
      "\u0663\u0663", "1\u00e9"))

  private val line: Gen[String] = for {
    us <- sortUsText
    fields <- Gen.frequency(
      12 -> Gen.listOfN(3, rawField),
      1 -> Gen.listOfN(2, rawField),
      1 -> Gen.listOfN(5, rawField))
  } yield (us +: fields).mkString("\t")

  private val segmentText: Gen[String] = for {
    lines <- Gen.nonEmptyListOf(Gen.frequency(8 -> line, 1 -> Gen.const("")))
    seps <- Gen.listOfN(lines.size, Gen.oneOf("\n", "\r", "\r\n", "\n\n"))
  } yield lines.zip(seps).map { case (l, s) => l + s }.mkString

  property("byte parser == the String parser on valid UTF-8") =
    forAll(segmentText) { text =>
      val (got, want) = both(text.getBytes(UTF_8))
      Prop(got == want) :| s"text ${text.take(200)}: got $got want $want"
    }

  property("byte parser: fixed tricky segments") = Prop.all(Seq(
    "1\ttbl\tk\tv\r\n2\t\\N\t\\N\t{\"resolved\": \"2\"}\r\n",
    "\n\r\n1\ta\\tb\tk\\\\\tval\\N\\x\\\n\r",
    "5\t\u00e9\u4e2d\t\ud83d\ude00\tv\twith\traw tabs\\",
    "9\t\\N\\N\t\\n\t\\N"
  ).map { text =>
    val (got, want) = both(text.getBytes(UTF_8))
    Prop(got == want && got.isRight) :| s"$text: got $got want $want"
  }: _*)

  property("a line with two tabs throws") = {
    val (got, want) = both("1\ttbl\tkey-without-value\n".getBytes(UTF_8))
    Prop(got == Left(classOf[IllegalArgumentException]) && want == got) :| s"$got / $want"
  }

  property("a non-numeric sort_us throws") = {
    val (got, want) = both("12x\ttbl\tk\tv\n".getBytes(UTF_8))
    Prop(got == Left(classOf[NumberFormatException]) && want == got) :| s"$got / $want"
  }

  property("the relay's reader passes invalid UTF-8 through; readSegment throws") = {
    val bytes = "7\tt\tk\tv".getBytes(UTF_8) :+ 0xFF.toByte
    val r = new ChangefeedLog.SegmentReader(bytes)
    val dir = Files.createTempDirectory("cflog-prop")
    val seg = Files.write(dir.resolve("seg-7-7-bad.log"), bytes)
    Prop(r.next() && r.value.getBytes.sameElements("v".getBytes(UTF_8) :+ 0xFF.toByte)) &&
      Prop.throws(classOf[java.nio.charset.MalformedInputException]) {
        ChangefeedLog.readSegment(seg).toList
      }
  }

  property("segment write/read round-trips records exactly") =
    forAll(Gen.nonEmptyListOf(record)) { recs =>
      val dir = Files.createTempDirectory("cflog-prop").toString
      val path = ChangefeedLog.writeSegment(dir, recs)
      val back = ChangefeedLog.readSegment(path).toList
      val want = recs.sortBy(r => (r.sortUs, r.key.getOrElse("")))
      // blank-line filtering in readSegment makes an empty-value record
      // with nothing else on the line unrepresentable ONLY if the whole
      // line is empty — which fmt never produces (sort_us is always
      // present), so equality must be exact
      Prop(back == want) :| s"got $back want $want"
    }

  property("listSegments reports the exact [first,last] range") =
    forAll(Gen.nonEmptyListOf(record)) { recs =>
      val dir = Files.createTempDirectory("cflog-prop").toString
      ChangefeedLog.writeSegment(dir, recs)
      val seg = ChangefeedLog.listSegments(dir).head
      seg.firstUs == recs.map(_.sortUs).min && seg.lastUs == recs.map(_.sortUs).max
    }

  property("negative sort_us is rejected (it would be unlistable)") =
    forAll(Gen.chooseNum(Long.MinValue, -1L)) { us =>
      val dir = Files.createTempDirectory("cflog-prop").toString
      Prop.throws(classOf[IllegalArgumentException]) {
        ChangefeedLog.writeSegment(dir,
          Seq(ChangefeedLog.Record(us, None, None, "v")))
      }
    }
}
