package graft.osm

import java.io.{ByteArrayInputStream, IOException, InputStream, SequenceInputStream}
import java.nio.charset.Charset
import java.nio.charset.StandardCharsets.{US_ASCII, UTF_8}
import javax.xml.stream.{XMLInputFactory, XMLStreamConstants, XMLStreamException, XMLStreamReader}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.io.compress.CompressionCodecFactory
import org.apache.hadoop.mapreduce.Job
import org.apache.spark.TaskContext
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.execution.datasources.{OutputWriterFactory, PartitionedFile, TextBasedFileFormat}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration
import scala.collection.mutable
import scala.util.Try

/** The engine's OSM XML reader: one pass over the file, in parallel splits,
  * one row per `<node>` or `<way>` (`OsmXml.schema`). See `OsmIngest` for
  * how the shapers use it.
  *
  * A split owns every `<node>`/`<way>` whose `<` byte lies inside it. The
  * first split parses from byte 0, so the real prolog (declaration,
  * comments, root element) is parsed as XML; any other split starts at its
  * first element start. Every split stops at the first element start at or
  * after its end, so each element is read by exactly one split. One StAX
  * reader per split parses the owned bytes.
  *
  * Rules:
  *  - PERMISSIVE: an element the parser rejects (malformed markup, a
  *    truncated file) becomes one row whose columns other than `kind` are
  *    null; parsing resumes at the next element start.
  *  - `<node>`/`<way>` must be children of an `<osm>` root. osmChange files
  *    (`<create>`/`<modify>`/`<delete>` wrappers) and any other nesting are
  *    refused with an error, never read into wrong rows.
  *  - The file must be UTF-8 (or ASCII), the encoding of the OSM format:
  *    a split other than the first cannot see the declaration.
  *  - Compressed input is read through the Hadoop codec and is never split.
  *  - Attribute values are trimmed, as Spark's XML source does by default.
  *
  * A comment, CDATA section or processing instruction in the document body
  * that contains `<node`/`<way` text and spans a split boundary is not
  * recognised as such; OSM writers emit none.
  */
class OsmXml extends TextBasedFileFormat {

  override def inferSchema(spark: SparkSession, options: Map[String, String],
                           files: Seq[org.apache.hadoop.fs.FileStatus]): Option[StructType] =
    Some(OsmXml.schema)

  override def prepareWrite(spark: SparkSession, job: Job, options: Map[String, String],
                            dataSchema: StructType): OutputWriterFactory =
    throw new UnsupportedOperationException("OSM XML is read-only")

  override def isSplitable(spark: SparkSession, options: Map[String, String],
                           path: Path): Boolean =
    new CompressionCodecFactory(getHadoopConf(spark, options)).getCodec(path) == null

  override def buildReader(spark: SparkSession, dataSchema: StructType,
                           partitionSchema: StructType, requiredSchema: StructType,
                           filters: Seq[Filter], options: Map[String, String],
                           hadoopConf: Configuration): PartitionedFile => Iterator[InternalRow] = {
    val conf = spark.sparkContext.broadcast(new SerializableConfiguration(hadoopConf))
    val fields = requiredSchema.fieldNames
    file => new OsmXml.SplitReader(file, conf.value.value, fields)
  }

  override def toString: String = "OsmXml"
}

object OsmXml {

  private val tagType = ArrayType(StructType(Seq(
    StructField("_k", StringType), StructField("_v", StringType))))
  private val ndType = ArrayType(StructType(Seq(StructField("_ref", StringType))))

  /** The 8 attributes of `<node>`/`<way>`, in schema order. */
  val Attributes: Seq[String] =
    Seq("id", "lat", "lon", "user", "uid", "version", "changeset", "timestamp")

  /** `kind` is "node" or "way"; a way's `_lat`/`_lon` and a node's `nd`
    * are null, as is a child list the element does not have. */
  val schema: StructType = StructType(
    StructField("kind", StringType) +:
      Attributes.map(a => StructField(s"_$a", StringType)) :+
      StructField("tag", tagType) :+ StructField("nd", ndType))

  private val Node = UTF8String.fromString("node")
  private val Way = UTF8String.fromString("way")

  private def str(s: String): UTF8String = UTF8String.fromString(s.trim)

  // scanner states, and the terminators of the three skipped kinds
  private final val Text = 0
  private final val Comment = 1
  private final val CData = 2
  private final val Pi = 3
  private final val Tag = 4  // inside a start tag
  private final val Decl = 5 // inside an end tag or a <!...> declaration
  private val terminators = Array("", "-->", "]]>", "?>")

  /** The bytes one split parses: from its first element start (byte 0 for
    * the first split) to the first element start at or after `end`.
    *
    * Every byte is scanned before the parser gets it. The scan finds the
    * `<node`/`<way` starts outside comments, CDATA sections, processing
    * instructions and quoted attribute values, and tracks element depth
    * from the split's first start on. A start below the root's children,
    * or an end tag that closes an element around them (other than
    * `</osm>`), means a nested layout: the scan refuses it, so any split
    * that sees nesting fails the read. The owned starts wait in `starts`
    * until the parser finishes their element, and the bytes from the
    * oldest of them stay buffered, so a parse can restart at any of them.
    */
  private final class SplitBytes(in: InputStream, from: Long, end: Long, what: String) {
    private var buf = new Array[Byte](1 << 16)
    private var base = from          // file offset of buf(0)
    private var lim = 0              // buf(0 until lim) is loaded
    private var eof = false
    private var scanned = from       // bytes before this offset are scanned
    private var cut = Long.MaxValue  // end of the split's bytes, once found
    private var state = Text
    private var inQuote = 0          // the quote byte inside a tag, or 0
    private var last = 0             // previous byte inside a tag
    // element depth: 0 outside the root, 1 for the root's children. The
    // first split starts at 0; any other one at its first element start.
    private var depth = if (from == 0) 0 else -1
    private var start = false        // the tag being scanned is an owned start
    private var unclosed = false     // an owned element's start tag ended, its end tag is not yet seen
    private var pos = from           // next byte for the parser
    /** Owned element starts as `offset << 1 | isWay`, oldest first. */
    val starts = new mutable.Queue[Long]
    /** A read error or a refusal, kept in case the parser wraps it. */
    var failure: Exception = null

    private def fill(): Unit = {
      if (lim == buf.length) {
        val keep = if (starts.isEmpty) pos else math.min(pos, starts.head >> 1)
        val drop = (keep - base).toInt
        if (drop > 0) {
          System.arraycopy(buf, drop, buf, 0, lim - drop); lim -= drop; base = keep
        }
        if (lim == buf.length) buf = java.util.Arrays.copyOf(buf, buf.length * 2)
      }
      val at = base + lim
      // read up to the split's end; past it only small steps, since the
      // next element start is usually a few bytes away
      val want = math.min(buf.length - lim, if (at < end) end - at else 4096L).toInt
      val n = try in.read(buf, lim, want) catch { case e: IOException => failure = e; throw e }
      if (n < 0) eof = true else lim += n
    }

    private def byteAt(off: Long): Int = {
      while (off >= base + lim && !eof) fill()
      if (off < base + lim) buf((off - base).toInt) & 0xff else -1
    }

    private def is(at: Long, s: String): Boolean = {
      var i = 0
      while (i < s.length && byteAt(at + i) == s.charAt(i)) i += 1
      i == s.length
    }

    private def delim(b: Int): Boolean =
      b == ' ' || b == '\n' || b == '\t' || b == '\r' || b == '/' || b == '>'

    private def name(at: Long): String = {
      val sb = new StringBuilder
      while (byteAt(at + sb.length) > 0 && !delim(byteAt(at + sb.length)))
        sb += byteAt(at + sb.length).toChar
      sb.toString
    }

    private def nested(detail: String): Unit = {
      failure = new IllegalArgumentException(s"$what: $detail: <node>/<way> nested " +
        "inside another element (osmChange files, diffs) are not read")
      throw failure
    }

    /** Scans up to `target`, or to the split's end if that comes first. */
    private def scanTo(target: Long): Unit =
      while (scanned < target && cut == Long.MaxValue) {
        if (byteAt(scanned) < 0) cut = scanned
        else if (state == Text) {
          var i = (scanned - base).toInt
          while (i < lim && buf(i) != '<') i += 1
          scanned = base + i
          if (i < lim) markup(scanned)
        } else if (state == Tag || state == Decl) {
          // up to the tag's closing '>', skipping quoted attribute values
          var i = (scanned - base).toInt
          while (i < lim && state != Text) {
            val b = buf(i)
            // '<' never occurs inside a tag: the tag is malformed, and the
            // '<' starts the next markup
            if (b == '<') { state = Text; inQuote = 0; i -= 1 }
            else if (inQuote != 0) { if (b == inQuote) inQuote = 0 }
            else if (b == '"' || b == '\'') inQuote = b
            else if (b == '>') {
              if (state == Tag && last != '/') {
                if (depth >= 0) depth += 1
                if (start) unclosed = true
              }
              state = Text
            }
            last = b
            i += 1
          }
          scanned = base + i
        } else {
          val t = terminators(state)
          var off = scanned
          while (state != Text && off < base + lim) {
            if (is(off, t)) { off += t.length; state = Text } else off += 1
          }
          scanned = off
        }
      }

    /** The markup starting with the '<' at `at`. */
    private def markup(at: Long): Unit = {
      val c = byteAt(at + 1)
      last = 0
      start = false
      if (c == '!') state = if (is(at, "<!--")) Comment else if (is(at, "<![CDATA[")) CData else Decl
      else if (c == '?') state = Pi
      else if (c == '/') {
        state = Decl
        // a node or way closes back to the root's children, which also
        // resynchronises the depth after a malformed element
        if (is(at, "</node") && delim(byteAt(at + 6)) || is(at, "</way") && delim(byteAt(at + 5))) {
          depth = 1; unclosed = false
        } else if (depth >= 0) {
          depth -= 1
          if (depth == 0 && name(at + 2) != "osm") nested(s"end tag </${name(at + 2)}>")
        }
      } else {
        state = Tag
        val way = c == 'w' && is(at, "<way") && delim(byteAt(at + 4))
        if (way || c == 'n' && is(at, "<node") && delim(byteAt(at + 5))) {
          if (at >= end) { cut = at; state = Text; return }
          // first start of the split, or the previous element never closed
          if (depth < 0 || unclosed) { depth = 1; unclosed = false }
          else if (depth > 1) nested(s"<${if (way) "way" else "node"}> at byte $at")
          start = true
          starts += (at << 1 | (if (way) 1 else 0))
        }
      }
      scanned = at + 1
    }

    private def stop: Long = math.min(scanned, cut)

    def exhausted: Boolean = cut != Long.MaxValue && pos >= stop

    /** Drops the bytes before the next owned element start, scanning for it
      * if none is queued; at the end of the split there is none. */
    def skipToNextStart(): Unit = {
      while (starts.isEmpty && cut == Long.MaxValue) { pos = scanned; scanTo(scanned + 1) }
      pos = if (starts.nonEmpty) starts.head >> 1 else stop
    }

    /** The parser finished the oldest queued element; returns whether it
      * was a way. */
    def finish(): Boolean = starts.nonEmpty && (starts.dequeue() & 1) == 1

    val stream: InputStream = new InputStream {
      override def read(): Int = {
        val b = new Array[Byte](1)
        if (read(b, 0, 1) < 0) -1 else b(0) & 0xff
      }
      override def read(b: Array[Byte], off: Int, len: Int): Int = {
        if (len == 0) return 0
        scanTo(pos + len)
        if (pos >= stop) -1
        else {
          val n = math.min(len.toLong, stop - pos).toInt
          System.arraycopy(buf, (pos - base).toInt, b, off, n)
          pos += n
          n
        }
      }
    }
  }

  /** Rows of one split, with only the `fields` asked for. */
  final class SplitReader(file: PartitionedFile, conf: Configuration,
                          fields: Array[String]) extends Iterator[InternalRow] {
    private val path = file.toPath
    private val codec = new CompressionCodecFactory(conf).getCodec(path)
    private val raw: InputStream = {
      val in = path.getFileSystem(conf).open(path)
      if (codec != null) codec.createInputStream(in) else { in.seek(file.start); in }
    }
    Option(TaskContext.get()).foreach(_.addTaskCompletionListener[Unit](_ => raw.close()))

    private val first = codec != null || file.start == 0
    private val bytes = new SplitBytes(raw, if (first) 0 else file.start,
      if (codec != null) Long.MaxValue else file.start + file.length, path.toString)
    if (!first) bytes.skipToNextStart()

    private val kindSlot = fields.indexOf("kind")
    private val attrSlot = new java.util.HashMap[String, Integer]
    for (a <- Attributes if fields.contains(s"_$a")) attrSlot.put(a, fields.indexOf(s"_$a"))
    private val tagSlot = fields.indexOf("tag")
    private val ndSlot = fields.indexOf("nd")

    private val factory = {
      // the StAX implementation on the classpath: Spark ships Woodstox,
      // which parses this format about 30% faster than the JDK's own
      val f = XMLInputFactory.newInstance()
      // no namespaces: a split after the first does not see the root's
      // declarations, so prefixed names must parse without them
      f.setProperty(XMLInputFactory.IS_NAMESPACE_AWARE, false)
      f.setProperty(XMLInputFactory.SUPPORT_DTD, false)
      f.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
      f
    }
    private var reader: XMLStreamReader = _
    private var rootSeen = !first
    private var depth = 0
    private var inElement = false // inside an owned <node>/<way>
    private var row: Array[Any] = _ // its row
    private val tags = mutable.ArrayBuffer[Any]()
    private val nds = mutable.ArrayBuffer[Any]()
    private var done = false
    private var pending: InternalRow = _

    open()

    /** A parser over the split's bytes from the current start: the first
      * split's first parser sees the real document; any later one sees the
      * element starts inside a stand-in `<osm>` root. */
    private def open(): Unit =
      if (bytes.exhausted) done = true
      else {
        reader =
          if (!rootSeen) factory.createXMLStreamReader(bytes.stream)
          else factory.createXMLStreamReader(new SequenceInputStream(
            new ByteArrayInputStream("<osm>".getBytes(UTF_8)), bytes.stream), "UTF-8")
        depth = 0
        inElement = false
      }

    private def refuse(msg: String) =
      throw new IllegalArgumentException(s"$path: $msg")

    private def attr(name: String): String = {
      var i = 0
      while (i < reader.getAttributeCount && reader.getAttributeLocalName(i) != name) i += 1
      if (i < reader.getAttributeCount) reader.getAttributeValue(i) else null
    }

    private def begin(node: Boolean): Unit = {
      inElement = true
      row = new Array[Any](fields.length)
      if (kindSlot >= 0) row(kindSlot) = if (node) Node else Way
      var i = 0
      while (i < reader.getAttributeCount) {
        val slot = attrSlot.get(reader.getAttributeLocalName(i))
        if (slot != null) row(slot) = str(reader.getAttributeValue(i))
        i += 1
      }
      tags.clear(); nds.clear()
    }

    private def child(name: String): Unit =
      if (name == "tag" && tagSlot >= 0) {
        val (k, v) = (attr("k"), attr("v"))
        tags += new GenericInternalRow(Array[Any](
          if (k == null) null else str(k), if (v == null) null else str(v)))
      } else if (name == "nd" && ndSlot >= 0) {
        val ref = attr("ref")
        nds += new GenericInternalRow(Array[Any](if (ref == null) null else str(ref)))
      }

    private def emit(): InternalRow = {
      if (tagSlot >= 0 && tags.nonEmpty) row(tagSlot) = new GenericArrayData(tags.toArray)
      if (ndSlot >= 0 && nds.nonEmpty) row(ndSlot) = new GenericArrayData(nds.toArray)
      new GenericInternalRow(row)
    }

    /** Parses up to the next row; null at the end of the document. */
    private def parse(): InternalRow = {
      while (reader.hasNext) {
        reader.next() match {
          case XMLStreamConstants.START_ELEMENT =>
            depth += 1
            val name = reader.getLocalName
            if (depth == 1 && !rootSeen) {
              if (name == "osmChange")
                refuse("osmChange files (<create>/<modify>/<delete> wrappers) are not read")
              if (name != "osm") refuse(s"root element <$name> is not <osm>")
              val enc = Option(reader.getEncoding).getOrElse("UTF-8")
              if (!Try(Charset.forName(enc)).toOption.exists(c => c == UTF_8 || c == US_ASCII))
                refuse(s"encoding $enc: OSM XML is read as UTF-8")
              rootSeen = true
            } else if (depth == 2 && (name == "node" || name == "way")) {
              begin(name == "node")
            } else if (depth == 3 && inElement) child(name)
          case XMLStreamConstants.END_ELEMENT =>
            depth -= 1
            if (depth == 1 && inElement) {
              inElement = false
              bytes.finish()
              return emit()
            }
          case _ =>
        }
      }
      null
    }

    /** The parser rejected the bytes: the owned element it was in, or the
      * next one if it was between elements, becomes a null row, and a new
      * parser starts at the element start after it. */
    private def recover(e: XMLStreamException): InternalRow = {
      if (bytes.failure != null) throw bytes.failure
      if (!rootSeen && (bytes.starts.nonEmpty || !bytes.exhausted))
        refuse(s"not OSM XML: ${e.getMessage}")
      val failed = inElement || depth <= 1 && bytes.starts.nonEmpty
      val way = failed && bytes.finish()
      reader.close()
      rootSeen = true
      bytes.skipToNextStart()
      open()
      if (failed) {
        val nulls = new Array[Any](fields.length)
        if (kindSlot >= 0) nulls(kindSlot) = if (way) Way else Node
        new GenericInternalRow(nulls)
      } else null
    }

    override def hasNext: Boolean = {
      while (pending == null && !done) {
        pending =
          try {
            val r = parse()
            if (r == null) { reader.close(); done = true }
            r
          } catch { case e: XMLStreamException => recover(e) }
      }
      if (pending == null) raw.close()
      pending != null
    }

    override def next(): InternalRow = {
      if (!hasNext) throw new NoSuchElementException
      val r = pending
      pending = null
      r
    }
  }
}
