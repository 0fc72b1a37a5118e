package graft.sources

import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** File-format source/sink round-trips: the engine reads parquet natively;
  * CSV and JSON are exercised as full write-then-read round-trips so the
  * driver gate verifies the format paths end-to-end (the round-tripped
  * aggregate must hash-match the oracle computed straight from parquet).
  *
  * Also the one owner of graft's on-disk caches: every derived dataset a
  * row reuses is written through [[writeOnce]] under a [[cacheDir]] key,
  * so the key, the completion marker and the scratch space are decided
  * here and nowhere else. Likewise for staged stream inputs: [[stageFiles]]
  * lays them out and [[replay]] is their one reader.
  */
object FileSources {

  private def roundtripDir(fmt: String, dir: String): String =
    cacheDir(s"roundtrip_$fmt", dir, "documents.parquet")

  /** Source-file fingerprint shared by every cache/table-identity consumer
    * ([[sourcesFingerprint]] here; the CBO table name in Relational): one
    * formula, so a future scheme change (e.g. content hashing) updates
    * every consumer.
    */
  private[graft] def fingerprint(src: java.io.File): String =
    java.lang.Long.toHexString(src.length * 31 + src.lastModified)

  /** The identity of the data a derived result reads: the hex fingerprint
    * of each of `sources` (file names under `dir`). The source half of
    * every reuse key, on disk ([[cacheDir]]) and in memory
    * (`graft.queries.SessionMemo`), so a regenerated source mints a new
    * key for both.
    */
  private[graft] def sourcesFingerprint(dir: String, sources: Seq[String]): String =
    sources.map(s => fingerprint(new java.io.File(s"$dir/$s"))).mkString

  /** Fingerprint of the COMPILED LIBRARY itself (SHA-256 over every
    * `.class` file under `graft/` at this code source, names + bytes,
    * sorted), the build half of every [[cacheDir]] key: any recompile that
    * changes any graft class mints a new key, so a code fix re-runs the
    * rows that cache derived data instead of serving what older code wrote;
    * a manual bump constant would rot the first time someone forgets it.
    * Directory and jar code sources both supported; an unreadable code
    * source degrades to a per-JVM unique key (cache rebuilt every run —
    * fail open toward correctness, not staleness). The fallback is
    * HEX-ONLY: writeOnce's stale-sibling eviction only matches pure-hex
    * suffixes, and a non-hex marker would make every degraded run's dir
    * permanent.
    */
  private[graft] lazy val buildFingerprint: String =
    try {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      val loc = classOf[StencilSource]
        .getProtectionDomain.getCodeSource.getLocation.toURI
      val root = java.nio.file.Paths.get(loc)
      val entries = scala.collection.mutable.ArrayBuffer.empty[(String, Array[Byte])]
      if (java.nio.file.Files.isDirectory(root)) {
        val base = root.resolve("graft")
        val stream = java.nio.file.Files.walk(base)
        try stream.iterator().forEachRemaining { p =>
            if (p.toString.endsWith(".class"))
              entries += ((root.relativize(p).toString, java.nio.file.Files.readAllBytes(p)))
          }
        finally stream.close()
      } else {
        val zf = new java.util.zip.ZipFile(root.toFile)
        try {
          val en = zf.entries()
          while (en.hasMoreElements) {
            val e = en.nextElement()
            if (e.getName.startsWith("graft/") && e.getName.endsWith(".class"))
              entries += ((e.getName, zf.getInputStream(e).readAllBytes()))
          }
        } finally zf.close()
      }
      entries.sortBy(_._1).foreach { case (n, b) =>
        md.update(n.getBytes(java.nio.charset.StandardCharsets.UTF_8)); md.update(b)
      }
      md.digest().take(8).map(b => f"$b%02x").mkString
    } catch { case scala.util.control.NonFatal(_) =>
      java.lang.Long.toHexString(System.nanoTime())
    }

  /** The per-dataset path of artifact `tag` over the data in `dir`: the
    * sanitized dir is part of the name, so JVMs working on different
    * datasets never share (or race on) a directory. Unkeyed, so it suits
    * only an artifact rewritten on every run.
    */
  private[graft] def datasetPath(tag: String, dir: String): String =
    s"/tmp/graft_$tag${dir.replaceAll("[^A-Za-z0-9.]", "_")}"

  /** The cache key of artifact `tag` derived from `sources` (file names
    * under `dir`; none for an artifact that reads no file): the
    * [[datasetPath]], then the hex fingerprint of each source and the
    * [[buildFingerprint]]. Regenerated testdata or a rebuilt library mints
    * a new key, so a cache is reused only for the computation that wrote
    * it — the inputs AND the code — and never fails the correctness gate
    * on a correct implementation or makes Bench measure old data.
    */
  private[graft] def cacheDir(tag: String, dir: String, sources: String*): String =
    s"${datasetPath(tag, dir)}_${sourcesFingerprint(dir, sources)}b$buildFingerprint"

  /** The completion marker [[writeOnce]] drops after its body returns. Not
    * Spark's `_SUCCESS`: a write job leaves that as soon as IT commits, so
    * it reads complete when a later step of the body failed, and it never
    * lands at the top of a directory whose body writes only subdirectories.
    * Underscore-prefixed, so Spark's readers skip it like `_SUCCESS`.
    */
  private val CompleteMarker = "_GRAFT_COMPLETE"

  /** The write-once contract every on-disk cache shares: `body(out,
    * scratch)` runs unless `out` carries the completion marker, and the
    * marker is written only after the body returns. Reusing the derived
    * data measures the query, not the sink, on every timed execution.
    *
    *   - A partial `out` (no marker: a body that threw, or a killed JVM) is
    *     cleared before the body runs, and `out` is deleted if the body
    *     throws.
    *   - `scratch` is an empty directory beside `out` for raw writes,
    *     checkpoints and staged inputs; it is removed when the body ends,
    *     either way.
    *   - Before a fresh write, sibling dirs of the same [[datasetPath]]
    *     with a DIFFERENT hex key are best-effort deleted, scratch dirs
    *     included: every testdata regeneration or rebuild mints a new key,
    *     and the stale dirs would otherwise accumulate in /tmp unboundedly.
    *
    * Writes coalesce to a few files: the source table is a single parquet
    * file, so a 32-way write is all small-file and task-launch overhead (at
    * warehouse scale the writer parallelism follows the upstream
    * partitioning instead).
    */
  private[graft] def writeOnce(out: String)(body: (String, String) => Unit): Unit = {
    val dir = new java.io.File(out)
    if (!new java.io.File(dir, CompleteMarker).exists()) {
      val scratch = new java.io.File(s"$out.scratch")
      Option(dir.getParentFile.listFiles()).getOrElse(Array.empty)
        .filter(f => f.isDirectory && isStaleSibling(f.getName, dir.getName))
        .foreach(deleteRecursively)
      deleteRecursively(dir)
      scratch.mkdirs()
      try body(out, scratch.getPath)
      catch { case t: Throwable => deleteRecursively(dir); throw t }
      finally deleteRecursively(scratch)
      dir.mkdirs()
      java.nio.file.Files.createFile(new java.io.File(dir, CompleteMarker).toPath): Unit
    }
  }

  /** The stale-sibling rule every keyed artifact shares, cache dirs here
    * and the fingerprinted CBO tables in Relational: `name` is stale iff it
    * is `live`'s prefix (everything up to its last `_`) followed by a
    * DIFFERENT pure-hex key, optionally `.scratch`-suffixed. The match is
    * exact, not a bare startsWith, which would let a dataset at `.../sf0.1`
    * evict the in-use artifact of one at `.../sf0.1_v2` (whose sanitized
    * name extends the shorter one) from a concurrent JVM. A `live` name
    * without `_` has no siblings. Case-sensitive: a caller whose names
    * come back lowercased passes `live` lowercased.
    */
  private[graft] def isStaleSibling(name: String, live: String): Boolean = {
    val cut = live.lastIndexOf('_') + 1
    cut > 0 && name != live && name.startsWith(live.substring(0, cut)) &&
      name.substring(cut).matches("[0-9a-f]+(\\.scratch)?")
  }

  private[graft] def deleteRecursively(f: java.io.File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRecursively)
    f.delete(): Unit
  }

  /** Lands `df` in `dest` as single parquet files that [[replay]] reads
    * back as deterministic micro-batches. A file's `position` is its place
    * in replay order: the file stream source takes files oldest-first, so
    * position p gets the pinned mtime of the base plus p minutes.
    * Unchunked, the frame lands as ONE file `$name.parquet` at `position`.
    * `chunked`, `df` carries an integer `chunk` column and lands as one
    * file per chunk value, `${name}_000.parquet`, ... in chunk order, at
    * positions `position`, `position + 1`, ... (one shuffle partition per
    * chunk value, so the dynamic-partitioned write leaves exactly one data
    * file under each `chunk=` dir). The raw write goes under `scratch`.
    */
  private[graft] def stageFiles(df: DataFrame, scratch: String, dest: String, name: String,
      position: Int = 0, chunked: Boolean = false): Unit = {
    val raw = new java.io.File(scratch, s"$name.raw")
    val write = if (chunked) df.repartition(col("chunk")).write.partitionBy("chunk")
      else df.coalesce(1).write
    write.mode(SaveMode.Overwrite).parquet(raw.getPath)
    val parts =
      if (!chunked) Seq(raw -> s"$name.parquet")
      else {
        val chunks = Option(raw.listFiles()).getOrElse(Array.empty)
          .filter(f => f.isDirectory && f.getName.startsWith("chunk="))
          .sortBy(_.getName.stripPrefix("chunk=").toLong)
        require(chunks.length >= 2, s"expected >=2 chunks, got ${chunks.length}")
        chunks.toSeq.zipWithIndex.map { case (c, i) => c -> f"${name}_$i%03d.parquet" }
      }
    new java.io.File(dest).mkdirs()
    parts.zipWithIndex.foreach { case ((from, file), i) =>
      val part = from.listFiles().filter(_.getName.endsWith(".parquet")) match {
        case Array(single) => single
        case many => throw new IllegalStateException(
          s"$from: expected 1 part file, got ${many.length}")
      }
      val to = new java.io.File(dest, file)
      java.nio.file.Files.move(part.toPath, to.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      // The stream source orders files by mtime; a silently-failed set
      // would replay batches out of order — fail loudly instead.
      require(to.setLastModified(1600000000000L + (position + i) * 60000L),
        s"failed to set mtime on $to — batch order would be undefined")
    }
    deleteRecursively(raw)
  }

  /** The one reader of a dir [[stageFiles]] filled: a file stream over
    * `dir`, one file per micro-batch in position order, under the schema
    * the staged files carry (Spark wrote them, so it is the staged frame's
    * schema with every field nullable).
    */
  private[graft] def replay(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(spark.read.parquet(dir).schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)

  /** The schema every round trip reads documents back with. */
  private val DocSchema = "doc_id LONG, lang STRING, source STRING, n_chars LONG, text STRING"

  /** The write-once round trip every format row shares: documents,
    * coalesced to 2 files, go through `write` (which picks the columns and
    * the writer options of format `fmt`) into the `roundtrip_<fmt>` cache
    * dir, and `read` reads that dir back.
    */
  private def roundTrip(spark: SparkSession, dir: String, fmt: String)(
      write: DataFrame => DataFrameWriter[Row])(read: String => DataFrame): DataFrame = {
    val out = roundtripDir(fmt, dir)
    writeOnce(out) { (o, _) =>
      write(spark.read.parquet(s"$dir/documents.parquet").coalesce(2))
        .mode(SaveMode.Overwrite).format(fmt).save(o)
    }
    read(out)
  }

  /** documents -> CSV -> read back. Text is single-line ASCII; quoting is
    * still enabled so embedded delimiters would survive.
    */
  def documentsViaCsv(spark: SparkSession, dir: String): DataFrame =
    roundTrip(spark, dir, "csv")(
      _.select(col("doc_id"), col("lang"), col("source"), col("n_chars"), col("text"))
        .write.option("header", "true").option("quoteAll", "true"))(
      spark.read.option("header", "true").schema(DocSchema).csv(_))

  /** documents -> JSON lines -> read back with explicit schema. */
  def documentsViaJson(spark: SparkSession, dir: String): DataFrame =
    roundTrip(spark, dir, "json")(_.write)(spark.read.schema(DocSchema).json(_))

  /** documents -> ORC -> read back (columnar sibling format). */
  def documentsViaOrc(spark: SparkSession, dir: String): DataFrame =
    roundTrip(spark, dir, "orc")(_.write)(spark.read.orc(_))

  /** documents -> XML -> read back (Spark 4's BUILT-IN XML source — the
    * spark-xml connector merged upstream): one `<doc>` row element per
    * document under explicit rowTag, read back with an explicit schema.
    * The interchange format enterprise corpora still arrive in; same
    * fingerprint-cached write-once contract as every sibling format.
    *
    * `ignoreSurroundingSpaces` is explicitly DISABLED: the reader's
    * default trims element text, which would silently shorten any document
    * with leading/trailing whitespace versus the parquet-side oracle.
    * Residual precondition (documented like the media rows' pure-ASCII
    * rule): documents must be non-empty — the XML reader maps an empty
    * element to NULL, not "", so a zero-length text would round-trip as
    * NULL and diverge.
    */
  def documentsViaXml(spark: SparkSession, dir: String): DataFrame =
    roundTrip(spark, dir, "xml")(
      _.write.option("rowTag", "doc").option("rootTag", "docs"))(
      spark.read.option("rowTag", "doc").option("ignoreSurroundingSpaces", "false")
        .schema(DocSchema).xml(_))

  /** documents -> line-oriented text (one U+0001-delimited record per
    * line) -> parsed back in-plan. Exercises the `text` source/sink — the
    * shape raw corpus drops actually arrive in (one document per line,
    * fields split in the ingest query, schema applied by the pipeline,
    * not the format). Safe here because the corpus text is single-line
    * and delimiter-free; a production ingest uses the same plan with an
    * escaped encoding.
    */
  def documentsViaText(spark: SparkSession, dir: String): DataFrame =
    roundTrip(spark, dir, "text")(
      _.select(concat_ws("", col("doc_id"), col("lang"), col("source"),
        col("n_chars"), col("text")).as("value")).write) { out =>
      val f = split(col("value"), "")
      spark.read.text(out)
        .select(element_at(f, 1).cast("long").as("doc_id"),
          element_at(f, 2).as("lang"),
          element_at(f, 3).as("source"),
          element_at(f, 4).cast("long").as("n_chars"),
          element_at(f, 5).as("text"))
    }

  /** Small-file compaction — the table-maintenance operator every 100 TB
    * lake runs continuously: a 16-way fragmented copy of documents (the
    * shape streaming ingest and over-parallel writers leave behind) is
    * compacted to 2 right-sized files. Compaction uses `coalesce`, not
    * `repartition`: coalesce merges read-side partitions WITHOUT a
    * shuffle (each output task chains several input files), which is the
    * correct plan when the goal is fewer files, not a new distribution.
    * Returns the compacted read; [[compactionLayout]] exposes the before/
    * after file counts so the gate can assert the maintenance actually
    * happened, while the row's aggregate proves zero data loss.
    */
  def compactedDocuments(spark: SparkSession, dir: String): DataFrame = {
    val out = roundtripDir("compact", dir)
    writeOnce(out) { (o, _) =>
      spark.read.parquet(s"$dir/documents.parquet")
        .repartition(16) // fragment: the problem state being fixed
        .write.mode(SaveMode.Overwrite).parquet(s"$o/small")
      spark.read.parquet(s"$o/small")
        .coalesce(2)
        .write.mode(SaveMode.Overwrite).parquet(s"$o/compacted")
    }
    spark.read.parquet(s"$out/compacted")
  }

  /** (small, compacted) parquet file counts of [[compactedDocuments]]'
    * layout — for the spec assertion that compaction reduced file count.
    */
  private[graft] def compactionLayout(spark: SparkSession, dir: String): (Int, Int) = {
    compactedDocuments(spark, dir) // ensure written
    val out = roundtripDir("compact", dir)
    def n(sub: String) = Option(new java.io.File(s"$out/$sub").listFiles())
      .getOrElse(Array.empty).count(_.getName.endsWith(".parquet"))
    (n("small"), n("compacted"))
  }

  /** documents re-laid-out as a lang-partitioned parquet dataset: the
    * directory layout (lang=en/...) is what lets Catalyst prune entire
    * partitions from a scan (`PartitionFilters` in the plan) — the primary
    * IO lever at 100 TB. Written once per (format, sf) and reused.
    */
  def partitionedDocuments(spark: SparkSession, dir: String): DataFrame = {
    val out = roundtripDir("part", dir)
    writeOnce(out) { (o, _) =>
      spark.read.parquet(s"$dir/documents.parquet")
        .write.mode(SaveMode.Overwrite).partitionBy("lang").parquet(o)
    }
    spark.read.parquet(out)
  }
}
