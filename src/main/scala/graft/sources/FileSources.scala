package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** File-format source/sink round-trips: the engine reads parquet natively;
  * CSV and JSON are exercised as full write-then-read round-trips so the
  * driver gate verifies the format paths end-to-end (the round-tripped
  * aggregate must hash-match the oracle computed straight from parquet).
  */
object FileSources {

  /** The cache key embeds a fingerprint (length + mtime) of the SOURCE
    * parquet: if the testdata is regenerated at the same path, the stale
    * round-trip is abandoned rather than silently reused — a stale cache
    * would fail the correctness gate on a correct implementation and make
    * Bench measure old data. Distinct fingerprints also mean concurrent
    * JVMs over different datasets never share (or race on) a directory.
    */
  private def roundtripDir(fmt: String, dir: String): String =
    cacheDir(s"roundtrip_$fmt", dir, "documents.parquet")

  /** Generalized fingerprinted cache path (same contract as roundtripDir)
    * for any derived-dataset writer keyed on a source parquet — also used
    * by the streaming-dedup chunk preparation (graft.queries.Events).
    */
  /** Source-file fingerprint shared by every cache/table-identity consumer
    * (cacheDir here; the CBO table name in Relational): one formula, so a
    * future scheme change (e.g. content hashing) updates every consumer.
    */
  private[graft] def fingerprint(src: java.io.File): String =
    java.lang.Long.toHexString(src.length * 31 + src.lastModified)

  /** Fingerprint of the COMPILED LIBRARY itself (SHA-256 over every
    * `.class` file under `graft/` at this code source, names + bytes,
    * sorted): the
    * cache-key component for rows whose cached artifact is their own
    * OUTPUT rather than a transformed copy of a source file (ADVICE r13
    * #1 — q_search_stream keyed only on constant run parameters, so a fix
    * to StencilSource/the objective would keep serving stale pre-fix
    * results to the gate until /tmp was cleared by hand). Any recompile
    * that changes any graft class mints a new key; a manual bump constant
    * would rot the first time someone forgets it. Directory and jar code
    * sources both supported; an unreadable code source degrades to a
    * per-JVM unique key (cache rebuilt every run — fail open toward
    * correctness, not staleness). The fallback is HEX-ONLY (code-review
    * r14): consumers append this value to cache-dir names, and
    * writeOnce's stale-sibling eviction only matches pure-hex suffixes —
    * a non-hex marker would make every degraded run's dir permanent.
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

  private[graft] def cacheDir(tag: String, dir: String, srcName: String): String = {
    val sf = dir.replaceAll("[^A-Za-z0-9.]", "_")
    val fp = fingerprint(new java.io.File(s"$dir/$srcName"))
    s"/tmp/graft_$tag${sf}_$fp"
  }

  /** [[cacheDir]] for a row whose cached artifact is its own OUTPUT (a
    * sink it wrote, a checkpoint, a result table) rather than a copy of the
    * source: the key also folds in [[buildFingerprint]], so a code fix
    * re-runs the row instead of serving its pre-fix result (ADVICE r13 #1).
    * The suffix stays hex, so writeOnce's stale-sibling eviction still
    * reclaims the dirs of earlier builds.
    */
  private[graft] def outputCacheDir(tag: String, dir: String, srcName: String): String =
    s"${cacheDir(tag, dir, srcName)}b$buildFingerprint"

  /** Write-once guard shared by every round-trip: the sink is exercised the
    * first time a (format, source-fingerprint) pair is requested and reused
    * afterwards — re-writing an identical dataset on every timed execution
    * measures sink overhead, not the query. Writes coalesce to a few files:
    * the source table is a single parquet file, so a 32-way write is all
    * small-file and task-launch overhead (at warehouse scale the writer
    * parallelism follows the upstream partitioning instead).
    *
    * Before a fresh write, sibling dirs for the same (format, sf) with a
    * DIFFERENT fingerprint are best-effort deleted — every testdata
    * regeneration mints a new fingerprint and the stale dirs would
    * otherwise accumulate in /tmp unboundedly (ADVICE r3 #5).
    */
  private[graft] def writeOnce(out: String)(write: String => Unit): Unit =
    if (!new java.io.File(s"$out/_SUCCESS").exists()) {
      val dir = new java.io.File(out)
      // Siblings must match (fmt, sf) EXACTLY: prefix + a hex fingerprint and
      // nothing else. A bare startsWith would let /root/testdata/sf0.1 delete
      // the in-use dir of /root/testdata/sf0.1_v2 (whose sanitized name
      // extends the shorter one) from a concurrent JVM (ADVICE r4 #3).
      val prefix = out.substring(out.lastIndexOf('/') + 1, out.lastIndexOf('_') + 1)
      val sibling = (java.util.regex.Pattern.quote(prefix) + "[0-9a-f]+").r
      Option(dir.getParentFile.listFiles()).getOrElse(Array.empty)
        .filter(f => f.isDirectory && sibling.matches(f.getName) && f.getName != dir.getName)
        .foreach(deleteRecursively)
      write(out)
    }

  private[graft] def deleteRecursively(f: java.io.File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRecursively)
    f.delete(): Unit
  }

  /** documents -> CSV -> read back. Text is single-line ASCII; quoting is
    * still enabled so embedded delimiters would survive.
    */
  def documentsViaCsv(spark: SparkSession, dir: String): DataFrame = {
    val out = roundtripDir("csv", dir)
    writeOnce(out) { o =>
      spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"), col("text"))
        .coalesce(2)
        .write.mode(SaveMode.Overwrite)
        .option("header", "true").option("quoteAll", "true")
        .csv(o)
    }
    spark.read
      .option("header", "true")
      .schema("doc_id LONG, lang STRING, source STRING, n_chars LONG, text STRING")
      .csv(out)
  }

  /** documents -> JSON lines -> read back with explicit schema. */
  def documentsViaJson(spark: SparkSession, dir: String): DataFrame = {
    val out = roundtripDir("json", dir)
    writeOnce(out) { o =>
      spark.read.parquet(s"$dir/documents.parquet")
        .coalesce(2)
        .write.mode(SaveMode.Overwrite).json(o)
    }
    spark.read
      .schema("doc_id LONG, lang STRING, source STRING, n_chars LONG, text STRING")
      .json(out)
  }

  /** documents -> ORC -> read back (columnar sibling format). */
  def documentsViaOrc(spark: SparkSession, dir: String): DataFrame = {
    val out = roundtripDir("orc", dir)
    writeOnce(out) { o =>
      spark.read.parquet(s"$dir/documents.parquet")
        .coalesce(2)
        .write.mode(SaveMode.Overwrite).orc(o)
    }
    spark.read.orc(out)
  }

  /** documents -> line-oriented text (one -delimited record per
    * line) -> parsed back in-plan. Exercises the `text` source/sink — the
    * shape raw corpus drops actually arrive in (one document per line,
    * fields split in the ingest query, schema applied by the pipeline,
    * not the format). Safe here because the corpus text is single-line
    * and delimiter-free; a production ingest uses the same plan with an
    * escaped encoding.
    */
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
  def documentsViaXml(spark: SparkSession, dir: String): DataFrame = {
    val out = roundtripDir("xml", dir)
    writeOnce(out) { o =>
      spark.read.parquet(s"$dir/documents.parquet")
        .coalesce(2)
        .write.mode(SaveMode.Overwrite)
        .option("rowTag", "doc").option("rootTag", "docs")
        .xml(o)
    }
    spark.read
      .option("rowTag", "doc")
      .option("ignoreSurroundingSpaces", "false")
      .schema("doc_id LONG, lang STRING, source STRING, n_chars LONG, text STRING")
      .xml(out)
  }

  def documentsViaText(spark: SparkSession, dir: String): DataFrame = {
    val out = roundtripDir("text", dir)
    writeOnce(out) { o =>
      spark.read.parquet(s"$dir/documents.parquet")
        .select(concat_ws("", col("doc_id"), col("lang"), col("source"),
          col("n_chars"), col("text")).as("value"))
        .coalesce(2)
        .write.mode(SaveMode.Overwrite).text(o)
    }
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
    writeOnce(out) { o =>
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
    writeOnce(out) { o =>
      spark.read.parquet(s"$dir/documents.parquet")
        .write.mode(SaveMode.Overwrite).partitionBy("lang").parquet(o)
    }
    spark.read.parquet(out)
  }
}
