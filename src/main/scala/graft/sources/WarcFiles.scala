package graft.sources

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.nio.charset.StandardCharsets.US_ASCII
import java.nio.file.{Files, Paths}
import java.util.zip.{GZIPInputStream, GZIPOutputStream}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Warc

/** Real-FILE WARC ingestion — the crawl analogue of the reference's
  * socket source (dnstap.go:90-248 ingests a real external format from
  * the outside world; a 100 TB training corpus arrives as directories
  * of `.warc` / `.warc.gz` files, the Common Crawl convention). This
  * source reads such a directory and certifies it with the per-file
  * decode-audit discipline of every codec in this engine: complete
  * records are kept, tears and corrupt files are COUNTED, never thrown.
  *
  * Scale shape: `binaryFile` delivers one (path, content) row per file
  * — exactly right for WARC, because gzipped members are NOT splittable
  * and the crawl convention bounds files (~1 GiB), so one-file-one-task
  * is the real-world parallelism grain; 100k files spread over 1000
  * executors with no shuffle (the record walk and the gunzip are
  * partition-local). The per-file audit aggregates file-grain rows, so
  * nothing corpus-sized ever shuffles. A petabyte deployment would swap
  * the whole-file byte array for a streaming V2 reader with the same
  * walk; the audit contract and the Content-Length hop are unchanged.
  *
  * Failure taxonomy (all counted, nothing thrown — the JsonlIngest
  * quarantine discipline):
  *   - `warc_ok`: every record complete;
  *   - `warc_torn`: the byte walk hit a tear (interrupted transfer) —
  *     complete records ahead of the tear are kept and certified;
  *   - `warc_corrupt`: the file could not be decoded at all (bad gzip
  *     header / garbage container) — zero records, but the FILE is
  *     still a row; corrupt data must never silently vanish;
  *   - `warc_oversize`: the file exceeds the binaryFile source's
  *     content ceiling (`spark.sql.sources.binaryFile.maxLength`) — a
  *     content read would THROW and fail the whole job on one
  *     oversized crawl file, so both readers split on the `length`
  *     column FIRST (it comes from the file LISTING; the filter pushes
  *     down to the source and the oversized file's content is never
  *     read). The reference guards its max input size the same way
  *     (`/root/reference/src/dnstap/dnstap.go:205`, the 1 MiB frame
  *     cap): bound, count, keep going.
  */
object WarcFiles {

  // ------------------------------------------------------------- encode

  /** Test-fixture writer (driver-side, bounded by `require`): bucket
    * documents into `files` archives by `doc_id % files` (ascending
    * doc_id within a file), odd buckets gzipped. Every `tornEvery`-th
    * bucket is damaged deterministically so the audit arithmetic stays
    * oracle-replayable:
    *   - plain file: the LAST archive is cut at half (the q248
    *     interrupted-transfer tear — partial decode is well-defined);
    *   - gzip file: the gzip MAGIC is zeroed (decode fails outright) —
    *     a mid-stream gzip cut is NOT used because the bytes recovered
    *     before the break depend on deflate block boundaries, which no
    *     arithmetic oracle can replay.
    * Files with no documents are not written (no row, no oracle row). */
  def writeArchiveDir(docs: DataFrame, dir: String, files: Int = 20,
                      tornEvery: Int = 5): Unit = {
    require(files >= 1, s"files must be >= 1, got $files")
    val rows = docs
      .select(col("doc_id").cast("long"), col("source"), col("text"))
      .collect()
    require(rows.length <= 100000,
      s"writeArchiveDir is a test-fixture writer (driver-side collect); " +
        s"refusing ${rows.length} > 100000 docs")
    val byFile = rows.groupBy(r => ((r.getLong(0) % files) + files) % files)
    byFile.toSeq.sortBy(_._1).foreach { case (f, docsF) =>
      val archives = docsF.sortBy(_.getLong(0)).map(r =>
        Warc.encodeArchive(r.getLong(0), r.getString(1), r.getString(2)))
      val damaged = tornEvery > 0 && f % tornEvery == 0
      val gz = f % 2 == 1
      val content =
        if (damaged && !gz)
          archives.init.mkString +
            archives.last.substring(0, archives.last.length / 2)
        else archives.mkString
      val bytes = content.getBytes(US_ASCII)
      val out =
        if (!gz) bytes
        else {
          val bos = new ByteArrayOutputStream()
          val g = new GZIPOutputStream(bos)
          g.write(bytes); g.close()
          val arr = bos.toByteArray
          if (damaged) { arr(0) = 0; arr(1) = 0 } // zeroed gzip magic
          arr
        }
      val name = s"part-$f" + (if (gz) ".warc.gz" else ".warc")
      Files.write(Paths.get(dir, name), out)
    }
  }

  /** UTF-8 test-fixture writer (driver-side, bounded): the byte-domain
    * counterpart of [[writeArchiveDir]] — each document's `text` is
    * archived as its UTF-8 BYTES via [[Warc.encodeArchiveBytes]]
    * (Content-Length counts bytes, the on-the-wire meaning), bucketed
    * by `doc_id % files`, odd buckets gzipped. No damage knob: the tear
    * taxonomy is certified by [[writeArchiveDir]]/q252; this fixture
    * certifies non-ASCII payload fidelity (q257). */
  def writeUtf8ArchiveDir(docs: DataFrame, dir: String,
                          files: Int = 8): Unit = {
    require(files >= 1, s"files must be >= 1, got $files")
    val rows = docs
      .select(col("doc_id").cast("long"), col("source"), col("text"))
      .collect()
    require(rows.length <= 100000,
      s"writeUtf8ArchiveDir is a test-fixture writer (driver-side " +
        s"collect); refusing ${rows.length} > 100000 docs")
    val byFile = rows.groupBy(r => ((r.getLong(0) % files) + files) % files)
    byFile.toSeq.sortBy(_._1).foreach { case (f, docsF) =>
      val bos = new ByteArrayOutputStream()
      docsF.sortBy(_.getLong(0)).foreach { r =>
        bos.write(Warc.encodeArchiveBytes(r.getLong(0), r.getString(1),
          r.getString(2).getBytes(java.nio.charset.StandardCharsets.UTF_8),
          "text/plain; charset=utf-8"))
      }
      val gz = f % 2 == 1
      val out =
        if (!gz) bos.toByteArray
        else {
          val zos = new ByteArrayOutputStream()
          val g = new GZIPOutputStream(zos)
          g.write(bos.toByteArray); g.close()
          zos.toByteArray
        }
      val name = s"part-$f" + (if (gz) ".warc.gz" else ".warc")
      Files.write(Paths.get(dir, name), out)
    }
  }

  /** Multi-format typed fixture writer (driver-side, bounded): each row
    * (doc_id, source, body BYTES, content_type) archived via
    * [[Warc.encodeArchiveBytes]] into `files` buckets by doc_id % files
    * (ascending doc_id within a file), odd buckets gzipped. Damage is
    * injected WITHOUT losing any real record, so record-level censuses
    * stay clean arithmetic while the audit still sees every failure
    * class: `tornFile`'s bucket gets a sacrificial PARTIAL record
    * appended after its real records (the walk keeps everything real
    * and flags the tear); `corruptFile`'s bucket must be odd (gzip) and
    * gets its magic zeroed — that file serves nothing, its docs leave
    * the record censuses, and the audit counts the file. */
  def writeTypedArchiveDir(rows: Seq[(Long, String, Array[Byte], String)],
                           dir: String, files: Int = 10,
                           tornFile: Int = 0, corruptFile: Int = 5): Unit = {
    require(files >= 1, s"files must be >= 1, got $files")
    require(rows.length <= 100000,
      s"writeTypedArchiveDir is a test-fixture writer (driver-side); " +
        s"refusing ${rows.length} > 100000 docs")
    require(corruptFile < 0 || corruptFile % 2 == 1,
      s"corruptFile must be an odd (gzip) bucket, got $corruptFile")
    val byFile = rows.groupBy(r => ((r._1 % files) + files) % files)
    byFile.toSeq.sortBy(_._1).foreach { case (f, docsF) =>
      val bos = new ByteArrayOutputStream()
      docsF.sortBy(_._1).foreach { case (id, src, body, ct) =>
        bos.write(Warc.encodeArchiveBytes(id, src, body, ct))
      }
      if (f == tornFile) // header never terminates: a mid-transfer tear
        bos.write("WARC/1.0\r\nWARC-Type: response"
          .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
      val gz = f % 2 == 1
      val out =
        if (!gz) bos.toByteArray
        else {
          val zos = new ByteArrayOutputStream()
          val g = new GZIPOutputStream(zos)
          g.write(bos.toByteArray); g.close()
          val arr = zos.toByteArray
          if (f == corruptFile) { arr(0) = 0; arr(1) = 0 }
          arr
        }
      val name = s"part-$f" + (if (gz) ".warc.gz" else ".warc")
      Files.write(Paths.get(dir, name), out)
    }
  }

  /** HTTP-encoded fixture writer (driver-side, bounded): each row is
    * (doc_id, source, ENCODED body bytes, HTTP headers) archived via
    * [[Warc.encodeArchiveBytesHttp]] into `files` buckets by
    * doc_id % files, odd buckets gzipped at the FILE level (independent
    * of any Content-Encoding inside the records). No damage knob — the
    * tear/corrupt taxonomy is q252's; this fixture certifies the HTTP
    * body-encoding decode (r19). */
  def writeHttpArchiveDir(rows: Seq[(Long, String, Array[Byte], Seq[(String, String)])],
                          dir: String, files: Int = 6): Unit = {
    require(files >= 1, s"files must be >= 1, got $files")
    require(rows.length <= 100000,
      s"writeHttpArchiveDir is a test-fixture writer (driver-side); " +
        s"refusing ${rows.length} > 100000 docs")
    val byFile = rows.groupBy(r => ((r._1 % files) + files) % files)
    byFile.toSeq.sortBy(_._1).foreach { case (f, docsF) =>
      val bos = new ByteArrayOutputStream()
      docsF.sortBy(_._1).foreach { case (id, src, body, headers) =>
        bos.write(Warc.encodeArchiveBytesHttp(id, src, body, headers))
      }
      val gz = f % 2 == 1
      val out =
        if (!gz) bos.toByteArray
        else {
          val zos = new ByteArrayOutputStream()
          val g = new GZIPOutputStream(zos)
          g.write(bos.toByteArray); g.close()
          zos.toByteArray
        }
      val name = s"part-$f" + (if (gz) ".warc.gz" else ".warc")
      Files.write(Paths.get(dir, name), out)
    }
  }

  /** Revisit fixture writer (driver-side, bounded): every document is
    * archived as a UTF-8 response; each doc with
    * doc_id % revisitEvery == 0 ALSO gets a `revisit` record — the
    * crawler refetched the page at a shifted URI (doc_id +
    * `refetchOffset`), found it identical, and stored the marker
    * instead of the body (r19, VERDICT #4). Buckets by doc_id % files,
    * odd buckets gzipped; the revisit rides its original's file. */
  def writeRevisitArchiveDir(docs: DataFrame, dir: String, files: Int = 6,
                             revisitEvery: Int = 3,
                             refetchOffset: Long = 1000000000000L): Unit = {
    require(files >= 1, s"files must be >= 1, got $files")
    require(revisitEvery >= 1,
      s"revisitEvery must be >= 1, got $revisitEvery")
    val rows = docs
      .select(col("doc_id").cast("long"), col("source"), col("text"))
      .collect()
    require(rows.length <= 100000,
      s"writeRevisitArchiveDir is a test-fixture writer (driver-side " +
        s"collect); refusing ${rows.length} > 100000 docs")
    val byFile = rows.groupBy(r => ((r.getLong(0) % files) + files) % files)
    byFile.toSeq.sortBy(_._1).foreach { case (f, docsF) =>
      val bos = new ByteArrayOutputStream()
      docsF.sortBy(_.getLong(0)).foreach { r =>
        val (id, src) = (r.getLong(0), r.getString(1))
        bos.write(Warc.encodeArchiveBytes(id, src,
          r.getString(2).getBytes(java.nio.charset.StandardCharsets.UTF_8),
          "text/plain; charset=utf-8"))
        if (id % revisitEvery == 0)
          bos.write(Warc.encodeRevisitBytes(
            s"http://$src/doc/${id + refetchOffset}",
            s"http://$src/doc/$id"))
      }
      val gz = f % 2 == 1
      val out =
        if (!gz) bos.toByteArray
        else {
          val zos = new ByteArrayOutputStream()
          val g = new GZIPOutputStream(zos)
          g.write(bos.toByteArray); g.close()
          zos.toByteArray
        }
      val name = s"part-$f" + (if (gz) ".warc.gz" else ".warc")
      Files.write(Paths.get(dir, name), out)
    }
  }

  // --------------------------------------------------------------- read

  final case class FileAuditRow(file: String, status: String,
                                n_records: Int, n_responses: Int,
                                body_chars: Long)

  final case class WarcRecordRow(file: String, uri: String,
                                 http_status: Int, content_type: String,
                                 encoding: String, body: Array[Byte])

  final case class RevisitRow(file: String, uri: String, refers_to: String)

  /** Gunzip fully, or None when the container itself is undecodable —
    * the `warc_corrupt` class. */
  private def gunzip(bytes: Array[Byte]): Option[Array[Byte]] =
    try {
      val in = new GZIPInputStream(new ByteArrayInputStream(bytes))
      val out = new ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
      Some(out.toByteArray)
    } catch { case _: java.io.IOException => None }

  /** The binaryFile source's per-file content ceiling: a content read
    * past it throws, so both readers split on `length` first. */
  private def binaryFileMaxLength(spark: SparkSession): Long =
    spark.conf.get("spark.sql.sources.binaryFile.maxLength",
      Int.MaxValue.toString).toLong

  /** The per-file decode map over binaryFile rows — one audit row per
    * (path, content) — behind [[readAudit]]. Narrow map, no
    * aggregation.
    *
    * Decodes through the BYTE-domain walk ([[Warc.parseBytes]], r16):
    * real crawl payloads are UTF-8/binary and the previous whole-file
    * US_ASCII String decode corrupted every non-ASCII payload byte
    * before the parser saw it. `body_chars` counts payload BYTES — on
    * the ASCII fixtures of [[writeArchiveDir]] (char encoder,
    * char-count lengths) byte and char counts coincide, so the q252
    * oracle arithmetic is unchanged. */
  private def auditColumns(bin: DataFrame): DataFrame = {
    val spark = bin.sparkSession
    import spark.implicits._
    val maxLen = binaryFileMaxLength(spark)
    val decoded = bin.filter(col("length") <= maxLen)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .mapPartitions(_.map { case (path, bytes) =>
        val name = path.substring(path.lastIndexOf('/') + 1)
        val decoded =
          if (name.endsWith(".gz")) gunzip(bytes) else Some(bytes)
        decoded match {
          case None => FileAuditRow(name, "warc_corrupt", 0, 0, 0L)
          case Some(b) =>
            val p = Warc.parseBytes(b)
            val responses = p.records.filter(_.recType == "response")
            FileAuditRow(name,
              if (p.torn) "warc_torn" else "warc_ok",
              p.records.length, responses.length,
              responses.map(_.body.length.toLong).sum)
        }
      }).toDF()
    // the oversize census never touches `content` — length is listing
    // metadata, so the one file that would fail the job lands in the
    // audit instead (object doc's warc_oversize class)
    val oversize = bin.filter(col("length") > maxLen)
      .select(substring_index(col("path"), "/", -1).as("file"),
        lit("warc_oversize").as("status"),
        lit(0).as("n_records"), lit(0).as("n_responses"),
        lit(0L).as("body_chars"))
    decoded.unionByName(oversize)
  }

  /** Read a directory of `.warc` / `.warc.gz` files and audit each:
    * one row per FILE with its status, kept-record counts and certified
    * response-body volume. Partition-local end to end — the only
    * exchange is whatever consumes the file-grain result.
    *
    * `serveOversize = true` (r18, VERDICT #8) routes files past the
    * binaryFile content ceiling through the BOUNDED-MEMORY stream walk
    * ([[Warc.parseStream]]) instead of the `warc_oversize` audit class:
    * they get the same ok/torn/corrupt statuses and serve their records
    * (see [[readRecords]]) — one task per file holding at most one
    * record in memory, the right grain since gzip members are
    * unsplittable anyway. Default off: `warc_oversize` stays the
    * conservative census (and the q252/q258 oracle contract). */
  def readAudit(spark: SparkSession, dir: String,
                serveOversize: Boolean = false): DataFrame = {
    val bin = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.warc*")
      .load(dir)
    if (!serveOversize) auditColumns(bin)
    else {
      val maxLen = binaryFileMaxLength(spark)
      auditColumns(bin.filter(col("length") <= maxLen))
        .unionByName(streamedAuditColumns(
          bin.filter(col("length") > maxLen).select(col("path"))))
    }
  }

  /** Open one (possibly gzipped) archive as a decode stream, walk it
    * bounded, close it. None = the container itself is undecodable
    * (bad gzip header) — the `warc_corrupt` class; mid-stream IO/gzip
    * failures TEAR inside the walk instead (records ahead are kept). */
  private def streamParse(path: String): Option[Warc.BParsed] = {
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(new org.apache.hadoop.conf.Configuration())
    val raw = fs.open(hp)
    // close the OUTERMOST stream (r18 ADVICE): closing only `raw` left
    // each oversized .gz file's GZIPInputStream holding a native
    // Inflater until finalization — off-heap creep in long-lived
    // executors serving many such files. GZIPInputStream.close() ends
    // the Inflater and closes raw; on a constructor failure `in` is
    // still raw and the finally closes that.
    var in: java.io.InputStream = raw
    try {
      if (path.endsWith(".gz"))
        in = try new GZIPInputStream(raw)
        catch { case _: java.io.IOException => return None }
      Some(Warc.parseStream(in))
    } finally in.close()
  }

  /** Audit rows for oversized files via the stream walk — path listing
    * only reaches this lane, the content column is never requested from
    * binaryFile (whose read would throw past the ceiling). */
  private def streamedAuditColumns(paths: DataFrame): DataFrame = {
    val spark = paths.sparkSession
    import spark.implicits._
    paths.as[String].mapPartitions(_.map { path =>
      val name = path.substring(path.lastIndexOf('/') + 1)
      streamParse(path) match {
        case None => FileAuditRow(name, "warc_corrupt", 0, 0, 0L)
        case Some(p) =>
          val responses = p.records.filter(_.recType == "response")
          FileAuditRow(name, if (p.torn) "warc_torn" else "warc_ok",
            p.records.length, responses.length,
            responses.map(_.body.length.toLong).sum)
      }
    }).toDF()
  }

  /** Record rows for oversized files via the stream walk — the serving
    * sibling of [[streamedAuditColumns]]. */
  private def streamedRecordColumns(paths: DataFrame): DataFrame = {
    val spark = paths.sparkSession
    import spark.implicits._
    paths.as[String].mapPartitions(_.flatMap { path =>
      val name = path.substring(path.lastIndexOf('/') + 1)
      streamParse(path).iterator.flatMap(_.records.iterator
        .filter(_.recType == "response")
        .map(r => WarcRecordRow(name, r.uri, r.httpStatus,
          r.contentType, r.encoding, r.body)))
    }).toDF()
  }

  /** The per-record EXTRACTION map over binaryFile rows — one row per
    * complete RESPONSE record with its bit-exact payload bytes. This is
    * the serving path a training pipeline actually consumes (the audit
    * above is its ops ledger): complete records ahead of a tear are
    * emitted (count-don't-crash — the file-grain audit carries the tear
    * flag), undecodable files emit nothing. Narrow partition-local
    * flatMap; payload bytes never shuffle. */
  private def recordColumns(bin: DataFrame): DataFrame = {
    val spark = bin.sparkSession
    import spark.implicits._
    // oversized files serve nothing (their audit row is the observable)
    // — without this length split one such file fails the whole job
    bin.filter(col("length") <= binaryFileMaxLength(spark))
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .mapPartitions(_.flatMap { case (path, bytes) =>
        val name = path.substring(path.lastIndexOf('/') + 1)
        val decoded =
          if (name.endsWith(".gz")) gunzip(bytes) else Some(bytes)
        decoded.iterator.flatMap { b =>
          Warc.parseBytes(b).records.iterator
            .filter(_.recType == "response")
            .map(r => WarcRecordRow(name, r.uri, r.httpStatus,
              r.contentType, r.encoding, r.body))
        }
      }).toDF()
  }

  /** Read a WARC directory into per-response-record rows — the corpus
    * extraction entry ([[readAudit]]'s serving-side sibling).
    * `serveOversize = true` additionally serves files past the
    * binaryFile ceiling through the bounded stream walk (see
    * [[readAudit]]); default off, where their audit row is the
    * observable. */
  def readRecords(spark: SparkSession, dir: String,
                  serveOversize: Boolean = false): DataFrame = {
    val bin = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.warc*")
      .load(dir)
    if (!serveOversize) recordColumns(bin)
    else recordColumns(bin)
      .unionByName(streamedRecordColumns(
        bin.filter(col("length") > binaryFileMaxLength(spark))
          .select(col("path"))))
  }

  /** Read a WARC directory into per-REVISIT-record rows (r19, VERDICT
    * #4): one row per revisit marker with the refetched URI and the
    * original it refers to — the free exact-dup edges a crawler already
    * discovered, which the dedup funnel consumes WITHOUT hashing (the
    * dominant avoidable shuffle on refetch-heavy crawls). Same narrow
    * one-file-one-task shape as [[readRecords]]. */
  def readRevisits(spark: SparkSession, dir: String): DataFrame =
    revisitColumns(spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.warc*")
      .load(dir))

  /** The per-file revisit map over binaryFile rows behind
    * [[readRevisits]]. */
  private def revisitColumns(bin: DataFrame): DataFrame = {
    val spark = bin.sparkSession
    import spark.implicits._
    bin.filter(col("length") <= binaryFileMaxLength(spark))
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .mapPartitions(_.flatMap { case (path, bytes) =>
        val name = path.substring(path.lastIndexOf('/') + 1)
        val decoded =
          if (name.endsWith(".gz")) gunzip(bytes) else Some(bytes)
        decoded.iterator.flatMap { b =>
          Warc.parseBytes(b).records.iterator
            .filter(_.recType == "revisit")
            .map(r => RevisitRow(name, r.uri, r.refersTo))
        }
      }).toDF()
  }

  final case class DispatchRow(doc_id: Long, format: String, ok: Boolean,
                               n_chars: Long, charset: String,
                               decode: String)

  /** Content-Type DISPATCH over served response records — the real
    * Common Crawl front end: one narrow pass routes each record's
    * payload bytes to its format's extractor (HTML and PDF text
    * extraction, plain-text UTF-8 decode) and certifies the extracted
    * character volume; unknown types are measured in raw BYTES and
    * never decoded. ONE scan, no shuffle: at 100 TB the dispatch must
    * not re-read the archive once per format, so this is a single
    * mapPartitions over the record stream, not N filtered branches
    * each rescanning binaryFile. The per-format extraction semantics
    * stay certified by their own entries (q161 HTML, q187 PDF, q247
    * plain WARC bodies); this operator composes them, and a failed
    * extraction certifies zero chars (`ok = false`) — the
    * count-don't-crash audit discipline. */
  def dispatchRecords(recs: DataFrame): DataFrame = {
    val spark = recs.sparkSession
    import spark.implicits._
    // doc_id rides the URI's last path segment; a real-crawl URI that
    // does not end in a numeric id must land as doc_id = -1 — under
    // ANSI mode a bare cast THROWS on 'index.html', failing the whole
    // batch on one record (count-don't-crash)
    recs.select(
        coalesce(expr("try_cast(substring_index(uri, '/', -1) AS BIGINT)"),
          lit(-1L)).as("doc_id"),
        col("content_type"), col("body"))
      .as[(Long, String, Array[Byte])]
      .mapPartitions(_.map { case (id, ct, body) =>
        // media-type matching is case-insensitive per RFC 2045 —
        // 'Text/HTML' routes with 'text/html'
        val declared = graft.codec.TextCharsets.charsetParam(ct)
        ct.takeWhile(_ != ';').trim
          .toLowerCase(java.util.Locale.ROOT) match {
          case "text/html" =>
            // charset-certified decode (r18): transport param, else
            // <meta charset> prescan, else UTF-8 — damage censused in
            // the charset/decode columns, never silently served
            val d = graft.codec.TextCharsets.decode(body, declared,
              sniffHtml = true)
            val e = graft.operators.HtmlExtract.extract(d.text)
            DispatchRow(id, ct, e.ok,
              if (e.ok) e.body.length.toLong else 0L, d.charset, d.decode)
          case "application/pdf" =>
            val p = graft.operators.PdfExtract.extract(body)
            DispatchRow(id, ct, p.ok,
              if (p.ok) p.body.length.toLong else 0L, "", "")
          case t if t.startsWith("text/") =>
            val d = graft.codec.TextCharsets.decode(body, declared)
            DispatchRow(id, ct, ok = true, d.text.length.toLong,
              d.charset, d.decode)
          case _ =>
            DispatchRow(id, ct, ok = true, body.length.toLong, "", "")
        }
      }).toDF()
  }

  final case class TextRow(doc_id: Long, source: String, format: String,
                           ok: Boolean, text: String, charset: String,
                           decode: String)

  /** The corpus-building sibling of [[dispatchRecords]]: same one-pass
    * Content-Type routing, but SERVING the extracted text instead of
    * certifying its volume — the front half of a crawl→training-corpus
    * funnel. Text formats only (HTML and PDF extraction, `text/ *`
    * UTF-8 decode); non-text records carry no trainable text and yield
    * NO row here (their existence is [[dispatchRecords]]' census, their
    * bytes the media lane's). A failed extraction keeps its row with
    * `ok = false` and empty text, so the funnel's extraction-loss stage
    * is countable. Text decodes are CHARSET-CERTIFIED (r18,
    * [[graft.codec.TextCharsets]]): the declared `charset=` parameter
    * is honored, HTML without one is meta-sniffed, unknown names fall
    * back to UTF-8 and malformed bytes replace — each class censused in
    * the `charset`/`decode` columns instead of silently serving
    * mojibake. The `source` rides the WARC target URI
    * (`http://<source>/doc/<id>`, Warc.scala:267). Still narrow: one
    * mapPartitions, no shuffle, no per-format archive rescan. */
  def dispatchText(recs: DataFrame): DataFrame = {
    val spark = recs.sparkSession
    import spark.implicits._
    recs.select(
        coalesce(expr("try_cast(substring_index(uri, '/', -1) AS BIGINT)"),
          lit(-1L)).as("doc_id"),
        substring_index(substring_index(col("uri"), "/", 3), "/", -1)
          .as("source"),
        col("content_type"), col("body"))
      .as[(Long, String, String, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, src, ct, body) =>
        val declared = graft.codec.TextCharsets.charsetParam(ct)
        ct.takeWhile(_ != ';').trim
          .toLowerCase(java.util.Locale.ROOT) match {
          case "text/html" =>
            val d = graft.codec.TextCharsets.decode(body, declared,
              sniffHtml = true)
            val e = graft.operators.HtmlExtract.extract(d.text)
            Some(TextRow(id, src, ct, e.ok, if (e.ok) e.body else "",
              d.charset, d.decode))
          case "application/pdf" =>
            val p = graft.operators.PdfExtract.extract(body)
            Some(TextRow(id, src, ct, p.ok, if (p.ok) p.body else "",
              "", ""))
          case t if t.startsWith("text/") =>
            val d = graft.codec.TextCharsets.decode(body, declared)
            Some(TextRow(id, src, ct, ok = true, d.text, d.charset,
              d.decode))
          case _ => None
        }
      }).toDF()
  }

  final case class MediaDispatchRow(doc_id: Long, source: String,
                                    declared: String,
                                    sniffed: String, ok: Int,
                                    width: Option[Int], height: Option[Int],
                                    channels: Option[Int],
                                    sample_rate: Option[Int],
                                    duration_ms: Option[Long], n_bytes: Long)

  /** The MEDIA lane of the content-type dispatch ([[dispatchRecords]]'
    * census and [[dispatchText]]'s corpus serve text; this serves the
    * image/audio/video records a multimodal crawl carries): records
    * whose declared base type is `image/ *`, `audio/ *`, or `video/ *`
    * are SNIFFED by [[graft.operators.MediaCodec.parseHeader]]'s
    * magic-byte chain — crawls lie about media types, so the certified
    * format is what the BYTES say, with the declared type kept beside
    * it for the mismatch census. A payload no parser accepts keeps its
    * row with `sniffed = ""` and `ok = 0` (count-don't-crash);
    * non-media records yield no row here — they are the text lanes'
    * business. Same narrow one-pass shape as the siblings: one
    * mapPartitions, headers-only parsing (pixels/samples never
    * decode), no shuffle. */
  def dispatchMedia(recs: DataFrame): DataFrame = {
    val spark = recs.sparkSession
    import spark.implicits._
    recs.select(
        coalesce(expr("try_cast(substring_index(uri, '/', -1) AS BIGINT)"),
          lit(-1L)).as("doc_id"),
        substring_index(substring_index(col("uri"), "/", 3), "/", -1)
          .as("source"),
        col("content_type"), col("body"))
      .as[(Long, String, String, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, src, ct, body) =>
        val base = ct.takeWhile(_ != ';').trim
          .toLowerCase(java.util.Locale.ROOT)
        if (!(base.startsWith("image/") || base.startsWith("audio/") ||
          base.startsWith("video/"))) None
        else graft.operators.MediaCodec.parseHeader(body) match {
          case Some(m) =>
            Some(MediaDispatchRow(id, src, ct, m.format, ok = 1, m.width,
              m.height, m.channels, m.sampleRate, m.durationMs,
              body.length.toLong))
          case None =>
            Some(MediaDispatchRow(id, src, ct, "", ok = 0, None, None,
              None, None, None, body.length.toLong))
        }
      }).toDF()
  }
}
