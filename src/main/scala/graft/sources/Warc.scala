package graft.sources

import java.io.{BufferedInputStream, ByteArrayInputStream, EOFException, IOException, InputStream, OutputStream}
import java.util.zip.GZIPInputStream

import scala.collection.mutable

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions._

/** WARC (ISO 28500) source/sink — the web-archive container training
  * corpora actually arrive in (Common Crawl publishes every crawl as
  * `.warc.gz` shards). Self-contained: the record grammar is a handful
  * of CRLF header lines plus a Content-Length-framed block, and the JDK
  * reads the gzip framing natively — no external deps.
  *
  * Read path, Spark-first: `binaryFile` scan → one parse pass per shard
  * file (`flatMap` over whole-file bytes). The FILE is the parallelism
  * unit — exactly the archive's own contract: Common Crawl cuts crawls
  * into ~1 GiB shards, tens of thousands per crawl, so a 100 TB read is
  * ~100k independent tasks with no shuffle anywhere. Per-record gzip
  * members (the standard layout, preserved by [[writeShards]]) mean a
  * shard streams record-by-record through one `GZIPInputStream` (the
  * JDK reader walks concatenated members) — decompressed bytes never
  * accumulate beyond one record. The in-memory bound per task is the
  * COMPRESSED shard (binaryFile materializes file content); keep shards
  * at the archive-standard ~1 GiB and the bound is a constant.
  *
  * Robustness contract (fuzz-tested in WarcSpec): a truncated shard
  * yields its complete records and stops; corrupt bytes between records
  * resync to the next `WARC/` version line; a record whose
  * Content-Length overruns the sanity cap or the remaining bytes ends
  * the file's parse instead of OOM-ing the task. Parsing never throws —
  * at archive scale some shards ARE damaged, and one bad file must not
  * kill an 100k-task read (count `warc_type IS NULL` paths upstream by
  * comparing record counts per path instead).
  */
object Warc {

  /** One parsed record. `payload` is the HTTP message BODY for
    * `application/http` blocks (headers stripped, status lifted into
    * `http_status`), the raw block otherwise. */
  final case class WarcRecord(
      path: String,
      record_id: String,
      warc_type: String,
      target_uri: String,
      warc_date: String,
      content_type: String,
      http_status: Option[Int],
      payload: Array[Byte],
  )

  /** Sanity cap on one record's Content-Length (512 MiB): a corrupt
    * length header must fail the parse, not the executor's heap. */
  private val MaxRecordBytes: Long = 512L * 1024 * 1024

  /** Longest header line retained; anything longer is binary garbage
    * mid-resync, not a WARC header. */
  private val MaxLineBytes = 64 * 1024

  // --- read ---------------------------------------------------------

  /** Scan a file/glob/directory of `.warc` / `.warc.gz` shards into a
    * DataFrame of records:
    * `(path, record_id, warc_type, target_uri, warc_date, content_type,
    * http_status, payload)`. All record types surface (`warcinfo`,
    * `request`, `metadata`, ...) — filter `warc_type = 'response'` for
    * page payloads; `decode(payload, 'UTF-8')` for text.
    */
  def read(spark: SparkSession, path: String): DataFrame = {
    val files = spark.read.format("binaryFile").load(path)
      .select(col("path"), col("content"))
    implicit val enc: Encoder[WarcRecord] = Encoders.product[WarcRecord]
    files.as(Encoders.tuple(Encoders.STRING, Encoders.BINARY))
      .flatMap { case (p, bytes) => parseFile(p, bytes) }
      .toDF()
  }

  /** Streaming variant of [[read]]: watch a directory for new shard
    * files and parse each exactly once — the live-crawl ingest source.
    * Composes with the curation gate
    * ([[graft.streaming.StreamingCurate.curateGate]]) for the
    * fetch→screen→dedup-at-the-door pipeline; each micro-batch is
    * whichever shards landed since the last trigger, so the unit of
    * progress is the same as the archive's unit of storage. Use
    * `Trigger.AvailableNow()` for catch-up ingest of a backlog.
    */
  def readStream(spark: SparkSession, dir: String): DataFrame = {
    // binaryFile's fixed schema, required explicitly for streaming reads
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "path string, modificationTime timestamp, length long, content binary")
    val files = spark.readStream.format("binaryFile").schema(schema).load(dir)
      .select(col("path"), col("content"))
    implicit val enc: Encoder[WarcRecord] = Encoders.product[WarcRecord]
    files.as(Encoders.tuple(Encoders.STRING, Encoders.BINARY))
      .flatMap { case (p, bytes) => parseFile(p, bytes) }
      .toDF()
  }

  /** Parse one shard's bytes (gzip auto-detected by magic number). */
  def parseFile(path: String, bytes: Array[Byte]): Iterator[WarcRecord] = {
    val raw = new ByteArrayInputStream(bytes)
    val in: InputStream =
      if (bytes.length >= 2 && (bytes(0) & 0xff) == 0x1f && (bytes(1) & 0xff) == 0x8b)
        new GZIPInputStream(raw, 64 * 1024) // reads concatenated members
      else raw
    parse(path, new BufferedInputStream(in, 64 * 1024))
  }

  /** Streaming record iterator over an open stream. Never throws: IO or
    * framing damage ends the iteration with the records parsed so far. */
  private def parse(path: String, in: BufferedInputStream): Iterator[WarcRecord] =
    new Iterator[WarcRecord] {
      private var nextRec: WarcRecord = fetch()
      override def hasNext: Boolean = nextRec != null
      override def next(): WarcRecord = {
        val r = nextRec; nextRec = fetch(); r
      }

      /** Next well-formed record, resyncing past damage; null at end. */
      private def fetch(): WarcRecord =
        try {
          while (true) {
            // resync: scan lines until a WARC version line
            var line = readLine(in)
            while (line != null && !line.startsWith("WARC/")) line = readLine(in)
            if (line == null) return null
            val headers = mutable.Map.empty[String, String]
            var h = readLine(in)
            while (h != null && h.nonEmpty) {
              val i = h.indexOf(':')
              if (i > 0) headers(h.substring(0, i).trim.toLowerCase) =
                h.substring(i + 1).trim
              h = readLine(in)
            }
            if (h == null) return null // truncated inside the header block
            headers.get("content-length").flatMap(_.toLongOption) match {
              case Some(len) if len >= 0 && len <= MaxRecordBytes =>
                val block = readExactly(in, len.toInt)
                if (block == null) return null // truncated block
                return build(path, headers, block)
              case Some(_) => return null // insane length: damaged beyond resync
              case None    => ()          // length-less record: resync to the next one
            }
          }
          null // unreachable; keeps the compiler's definite-return happy
        } catch {
          case _: IOException => null // gzip CRC / framing damage mid-stream
        }
    }

  private def build(
      path: String, headers: mutable.Map[String, String], block: Array[Byte],
  ): WarcRecord = {
    val ctype = headers.getOrElse("content-type", "")
    val (status, payload) =
      if (ctype.toLowerCase.startsWith("application/http")) splitHttp(block)
      else (None, block)
    WarcRecord(
      path = path,
      record_id = headers.getOrElse("warc-record-id", ""),
      warc_type = headers.getOrElse("warc-type", ""),
      target_uri = headers.getOrElse("warc-target-uri", ""),
      warc_date = headers.getOrElse("warc-date", ""),
      content_type = ctype,
      http_status = status,
      payload = payload)
  }

  /** Split an HTTP message block into (status, body): headers end at the
    * first CRLFCRLF; the status code is the second token of the first
    * line. A block with no header terminator passes through whole (a
    * damaged or bodyless message is data, not an error). */
  private def splitHttp(block: Array[Byte]): (Option[Int], Array[Byte]) = {
    var i = 0
    var split = -1
    while (split < 0 && i + 3 < block.length) {
      if (block(i) == '\r' && block(i + 1) == '\n' &&
        block(i + 2) == '\r' && block(i + 3) == '\n') split = i
      i += 1
    }
    if (split < 0) return (None, block)
    val head = new String(block, 0, split, "UTF-8")
    val status = head.linesIterator.nextOption().flatMap { l =>
      val parts = l.split(" ")
      if (parts.length >= 2 && parts(0).startsWith("HTTP/")) parts(1).toIntOption
      else None
    }
    (status, java.util.Arrays.copyOfRange(block, split + 4, block.length))
  }

  /** Read one CRLF/LF-terminated line as ISO-8859-1 (header bytes are
    * ASCII; 8859-1 is the byte-transparent decode). Returns null at EOF
    * with nothing read; caps retained length at [[MaxLineBytes]] while
    * still consuming to the newline so resync always makes progress. */
  private def readLine(in: InputStream): String = {
    val buf = new java.io.ByteArrayOutputStream(128)
    var b = in.read()
    if (b < 0) return null
    while (b >= 0 && b != '\n') {
      if (buf.size < MaxLineBytes) buf.write(b)
      b = in.read()
    }
    val bytes = buf.toByteArray
    val n = if (bytes.nonEmpty && bytes(bytes.length - 1) == '\r') bytes.length - 1
            else bytes.length
    new String(bytes, 0, n, "ISO-8859-1")
  }

  /** Exactly n bytes, or null if the stream ends early. */
  private def readExactly(in: InputStream, n: Int): Array[Byte] = {
    val out = new Array[Byte](n)
    var off = 0
    while (off < n) {
      val r = try in.read(out, off, n - off) catch { case _: EOFException => -1 }
      if (r < 0) return null
      off += r
    }
    out
  }

  // --- write --------------------------------------------------------

  /** Write (id, text) rows as a sharded `.warc.gz` layout — the fixture
    * and export sibling of [[read]]. Each shard file carries one
    * `warcinfo` header record then one `response` record per row, each
    * record its OWN gzip member (the Common Crawl layout [[read]]'s
    * streaming bound relies on). Rows hash-partition by id into
    * `shards` files written straight from the executors (no driver
    * funnel) and sort by id within each shard; record ids, dates, and
    * URIs are pure functions of the id, so the layout is
    * bit-reproducible for a given input. Files publish via
    * [[ShardCommit]] (attempt-isolated temp + atomic rename), so task
    * retries and speculative attempts cannot tear a shard.
    */
  def writeShards(
      df: DataFrame, idCol: String, textCol: String, dir: String,
      shards: Int, uriPrefix: String = "http://example.org/doc/",
      gzip: Boolean = true,
  ): Unit = {
    require(shards >= 1, s"shards must be >= 1: $shards")
    val hconf = new org.apache.spark.util.SerializableConfiguration(
      df.sparkSession.sparkContext.hadoopConfiguration)
    val target = new org.apache.hadoop.fs.Path(dir)
    val driverFs = target.getFileSystem(hconf.value)
    driverFs.delete(target, true)
    driverFs.mkdirs(target)
    val ext = if (gzip) "warc.gz" else "warc"
    df.select(col(idCol).cast("string").as("id"), col(textCol).as("text"))
      .repartition(shards, col("id"))
      // deterministic within-shard order: post-shuffle row order is not
      // reproducible across runs or task attempts; the sort makes every
      // attempt write identical bytes (ShardCommit relies on this)
      .sortWithinPartitions("id")
      .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
        val pid = TaskContext.getPartitionId()
        val file = new org.apache.hadoop.fs.Path(dir, f"part-$pid%05d.$ext")
        val committer = new ShardCommit(hconf.value, file)
        val out = committer.stream
        val gz = if (gzip) new MemberGzip else null
        try {
          writeMember(out, gz,
            record("warcinfo", s"<urn:uuid:${uuidOf(s"shard-$pid")}>",
              uri = null, "application/warc-fields",
              s"software: graft-warc\r\nshard: $pid\r\n".getBytes("UTF-8")))
          it.foreach { r =>
            val id = r.getString(0)
            val body = Option(r.getString(1)).getOrElse("").getBytes("UTF-8")
            val http =
              (s"HTTP/1.1 200 OK\r\nContent-Type: text/plain; charset=utf-8\r\n" +
                s"Content-Length: ${body.length}\r\n\r\n").getBytes("UTF-8") ++ body
            writeMember(out, gz,
              record("response", s"<urn:uuid:${uuidOf(id)}>",
                uri = uriPrefix + id, "application/http; msgtype=response", http))
          }
        } finally {
          if (gz != null) gz.end()
          out.close()
        }
        committer.commit()
      }
    ShardCommit.cleanup(hconf.value, dir)
  }

  /** WET layout ([[writeShards]]'s extracted-text sibling — the other
    * file type the public crawls publish): `conversion` records whose
    * block IS the plain text, no HTTP wrapper. The same [[read]] walks
    * both layouts (a non-`application/http` block passes through whole,
    * status null) — filter `warc_type = 'conversion'` and decode the
    * payload directly.
    */
  def writeWetShards(
      df: DataFrame, idCol: String, textCol: String, dir: String,
      shards: Int, uriPrefix: String = "http://example.org/doc/",
  ): Unit = {
    require(shards >= 1, s"shards must be >= 1: $shards")
    val hconf = new org.apache.spark.util.SerializableConfiguration(
      df.sparkSession.sparkContext.hadoopConfiguration)
    val target = new org.apache.hadoop.fs.Path(dir)
    val driverFs = target.getFileSystem(hconf.value)
    driverFs.delete(target, true)
    driverFs.mkdirs(target)
    df.select(col(idCol).cast("string").as("id"), col(textCol).as("text"))
      .repartition(shards, col("id"))
      .sortWithinPartitions("id") // attempt-deterministic bytes, see writeShards
      .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
        val pid = TaskContext.getPartitionId()
        val file = new org.apache.hadoop.fs.Path(dir, f"part-$pid%05d.warc.wet.gz")
        val committer = new ShardCommit(hconf.value, file)
        val out = committer.stream
        val gz = new MemberGzip
        try {
          gz.writeMember(out,
            record("warcinfo", s"<urn:uuid:${uuidOf(s"wet-shard-$pid")}>",
              uri = null, "application/warc-fields",
              s"software: graft-warc\r\nformat: WET\r\nshard: $pid\r\n"
                .getBytes("UTF-8")))
          it.foreach { r =>
            val id = r.getString(0)
            val body = Option(r.getString(1)).getOrElse("").getBytes("UTF-8")
            gz.writeMember(out,
              record("conversion", s"<urn:uuid:${uuidOf(id)}>",
                uri = uriPrefix + id, "text/plain", body))
          }
        } finally { gz.end(); out.close() }
        committer.commit()
      }
    ShardCommit.cleanup(hconf.value, dir)
  }

  /** [[writeShards]] plus a record-offset index — the CDX pattern the
    * big public crawls ship alongside their shards: per record,
    * (id, target_uri, file, offset, length) with offset/length framing
    * the record's OWN gzip member. [[fetch]] then reads an arbitrary
    * subset of records by seeking exactly those byte ranges — the
    * random-access path that lets a decontamination or sampling job
    * touch 0.01% of a 100 TB archive without scanning a shard.
    * One pass: each task writes its shard through a counting stream and
    * emits the index rows; the index lands as parquet under
    * `dir/_index`.
    */
  def writeShardsIndexed(
      df: DataFrame, idCol: String, textCol: String, dir: String,
      shards: Int, uriPrefix: String = "http://example.org/doc/",
  ): Unit = {
    require(shards >= 1, s"shards must be >= 1: $shards")
    val hconf = new org.apache.spark.util.SerializableConfiguration(
      df.sparkSession.sparkContext.hadoopConfiguration)
    val target = new org.apache.hadoop.fs.Path(dir)
    val driverFs = target.getFileSystem(hconf.value)
    driverFs.delete(target, true)
    driverFs.mkdirs(target)
    val enc = Encoders.product[(String, String, String, Long, Long)]
    df.select(col(idCol).cast("string").as("id"), col(textCol).as("text"))
      .repartition(shards, col("id"))
      // the sort is CORRECTNESS here, not just reproducibility: the
      // _index rows survive task retries through Spark's own shuffle
      // commit, independently of which attempt's shard file won the
      // ShardCommit rename — offsets only line up because every attempt
      // writes byte-identical shards
      .sortWithinPartitions("id")
      .mapPartitions { it =>
        if (!it.hasNext) Iterator.empty
        else {
          val pid = TaskContext.getPartitionId()
          val name = f"part-$pid%05d.warc.gz"
          val file = new org.apache.hadoop.fs.Path(dir, name)
          val committer = new ShardCommit(hconf.value, file)
          val out = new CountingStream(committer.stream)
          val gz = new MemberGzip
          val index = Seq.newBuilder[(String, String, String, Long, Long)]
          try {
            gz.writeMember(out,
              record("warcinfo", s"<urn:uuid:${uuidOf(s"shard-$pid")}>",
                uri = null, "application/warc-fields",
                s"software: graft-warc\r\nshard: $pid\r\n".getBytes("UTF-8")))
            it.foreach { r =>
              val id = r.getString(0)
              val uri = uriPrefix + id
              val body = Option(r.getString(1)).getOrElse("").getBytes("UTF-8")
              val http =
                (s"HTTP/1.1 200 OK\r\nContent-Type: text/plain; charset=utf-8\r\n" +
                  s"Content-Length: ${body.length}\r\n\r\n").getBytes("UTF-8") ++ body
              val start = out.count
              gz.writeMember(out,
                record("response", s"<urn:uuid:${uuidOf(id)}>",
                  uri = uri, "application/http; msgtype=response", http))
              index += ((id, uri, name, start, out.count - start))
            }
          } finally { gz.end(); out.close() }
          committer.commit()
          index.result().iterator
        }
      }(enc)
      .toDF("id", "target_uri", "file", "offset", "length")
      .write.mode("overwrite").parquet(s"$dir/_index")
    ShardCommit.cleanup(hconf.value, dir)
  }

  /** Random-access fetch through the offset index: `wanted` is a frame
    * with an `id` column (string); each wanted record is read by
    * SEEKING its (file, offset) and decompressing exactly `length`
    * bytes — shard bytes outside the wanted ranges are never read.
    * Work partitions by FILE (each task walks its file's wanted
    * offsets in order — one open, monotone seeks). Cost, stated
    * precisely: O(wanted records + touched files) of ARCHIVE I/O, plus
    * one column-pruned scan of the `_index` parquet for the id join —
    * the index is ~3 small columns per record (a fraction of a percent
    * of archive bytes), so the scan is negligible but IS proportional
    * to record count; an id-bucketed index layout would prune it
    * further if it ever showed up in a profile.
    */
  def fetch(spark: SparkSession, dir: String, wanted: DataFrame): DataFrame = {
    val hconf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val index = spark.read.parquet(s"$dir/_index")
    implicit val enc: Encoder[WarcRecord] = Encoders.product[WarcRecord]
    // distinct: a duplicated wanted id must not fetch its record twice
    index.join(wanted.select(col("id")).distinct(), "id")
      .select(col("file"), col("offset"), col("length"))
      .repartition(col("file"))
      .sortWithinPartitions("file", "offset")
      .as(Encoders.tuple(Encoders.STRING, Encoders.LONG, Encoders.LONG))
      .mapPartitions { it =>
        var openName: String = null
        var in: org.apache.hadoop.fs.FSDataInputStream = null
        val gunzip = new MemberGunzip // one native inflater per task
        // a limit/take consumer abandons the iterator — clean at task end
        val tc = TaskContext.get()
        if (tc != null) tc.addTaskCompletionListener[Unit] { _ =>
          if (in != null) in.close()
          gunzip.end()
        }
        val recs = it.flatMap { case (name, offset, length) =>
          if (name != openName) {
            if (in != null) in.close()
            val p = new org.apache.hadoop.fs.Path(dir, name)
            in = p.getFileSystem(hconf.value).open(p)
            openName = name
          }
          val bytes = new Array[Byte](length.toInt)
          in.readFully(offset, bytes) // positioned read: exactly this range
          val inflated = gunzip.gunzip(bytes)
          if (inflated != null) parseFile(s"$dir/$name", inflated)
          else parseFile(s"$dir/$name", bytes) // plain (or damaged → empty)
        }
        recs ++ { if (in != null) { in.close(); in = null }; Iterator.empty }
      }
      .toDF()
  }

  /** Reused-Inflater gzip-member decompressor — [[MemberGzip]]'s read
    * twin: a fresh GZIPInputStream per fetched record spends its time
    * allocating and freeing native zlib state, not inflating (measured
    * 3.9s → sub-second for a 10k-record fetch, ScaleBench format). Parses
    * the full gzip header grammar (FEXTRA/FNAME/FCOMMENT/FHCRC), so it
    * reads members any writer produced; returns null on damage (the
    * caller falls back or skips — fetch never throws).
    */
  private final class MemberGunzip {
    private val inf = new java.util.zip.Inflater(true)
    private val buf = new Array[Byte](64 * 1024)
    def gunzip(b: Array[Byte]): Array[Byte] =
      try {
        if (b.length < 18 || (b(0) & 0xff) != 0x1f || (b(1) & 0xff) != 0x8b ||
          b(2) != 8) return null
        val flg = b(3) & 0xff
        var i = 10
        if ((flg & 4) != 0) {
          if (i + 2 > b.length) return null
          i += 2 + ((b(i) & 0xff) | ((b(i + 1) & 0xff) << 8))
        }
        if ((flg & 8) != 0) { while (i < b.length && b(i) != 0) i += 1; i += 1 }
        if ((flg & 16) != 0) { while (i < b.length && b(i) != 0) i += 1; i += 1 }
        if ((flg & 2) != 0) i += 2
        if (i >= b.length - 8) return null
        val out = new java.io.ByteArrayOutputStream(math.min(b.length * 4, 1 << 20))
        inf.reset()
        inf.setInput(b, i, b.length - i - 8) // trailer excluded
        while (!inf.finished()) {
          val n = inf.inflate(buf)
          if (n > 0) out.write(buf, 0, n)
          else if (inf.needsInput() || inf.needsDictionary()) return null // truncated
        }
        out.toByteArray
      } catch { case _: java.util.zip.DataFormatException => null }
    def end(): Unit = inf.end()
  }

  /** Byte-counting wrapper so the writer knows each member's offset. */
  private final class CountingStream(out: OutputStream) extends OutputStream {
    var count: Long = 0L
    override def write(b: Int): Unit = { out.write(b); count += 1 }
    override def write(b: Array[Byte], off: Int, len: Int): Unit = {
      out.write(b, off, len); count += len
    }
    override def flush(): Unit = out.flush()
    override def close(): Unit = out.close()
  }

  /** Deterministic name-based UUID (type 3) so the layout reproduces. */
  private def uuidOf(name: String): String =
    java.util.UUID.nameUUIDFromBytes(name.getBytes("UTF-8")).toString

  private def record(
      wtype: String, recordId: String, uri: String, ctype: String,
      block: Array[Byte],
  ): Array[Byte] = {
    val sb = new StringBuilder
    sb.append("WARC/1.0\r\n")
    sb.append(s"WARC-Type: $wtype\r\n")
    sb.append(s"WARC-Record-ID: $recordId\r\n")
    sb.append("WARC-Date: 2026-01-01T00:00:00Z\r\n")
    if (uri != null) sb.append(s"WARC-Target-URI: $uri\r\n")
    sb.append(s"Content-Type: $ctype\r\n")
    sb.append(s"Content-Length: ${block.length}\r\n\r\n")
    sb.toString.getBytes("UTF-8") ++ block ++ "\r\n\r\n".getBytes("UTF-8")
  }

  /** Hand-rolled gzip member writer that REUSES one Deflater (native
    * zlib state) + CRC32 across all of a shard's records: a fresh
    * `GZIPOutputStream` per ~KB record spends its time constructing and
    * ending Deflaters, not compressing — measured 5–8 MB/s vs ~50 for
    * the reuse shape on 500k small records (ScaleBench format). Emits
    * the standard 10-byte header (zeroed MTIME for reproducibility),
    * raw-deflate body, CRC32+ISIZE trailer — byte-compatible with any
    * gzip reader.
    */
  private final class MemberGzip {
    private val deflater =
      new java.util.zip.Deflater(java.util.zip.Deflater.DEFAULT_COMPRESSION, true)
    private val crc = new java.util.zip.CRC32
    private val buf = new Array[Byte](64 * 1024)
    private val header =
      Array[Byte](0x1f, 0x8b.toByte, 8, 0, 0, 0, 0, 0, 0, 0)
    def writeMember(out: OutputStream, rec: Array[Byte]): Unit = {
      out.write(header)
      deflater.reset()
      deflater.setInput(rec)
      deflater.finish()
      while (!deflater.finished()) {
        val n = deflater.deflate(buf)
        if (n > 0) out.write(buf, 0, n)
      }
      crc.reset()
      crc.update(rec)
      writeIntLE(out, crc.getValue.toInt)
      writeIntLE(out, rec.length)
    }
    def end(): Unit = deflater.end()
    private def writeIntLE(out: OutputStream, v: Int): Unit = {
      out.write(v & 0xff); out.write((v >> 8) & 0xff)
      out.write((v >> 16) & 0xff); out.write((v >> 24) & 0xff)
    }
  }

  /** One record as its own gzip member (or raw bytes when gz is null). */
  private def writeMember(out: OutputStream, gz: MemberGzip, rec: Array[Byte]): Unit =
    if (gz != null) gz.writeMember(out, rec) else out.write(rec)
}
