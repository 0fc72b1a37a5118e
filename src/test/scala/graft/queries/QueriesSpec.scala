package graft.queries

import graft.TempDirs.withTempDir
import graft.SparkEntry
import graft.functions.PolyHash
import graft.multimodal.Media
import graft.spark.Leftovers
import org.apache.spark.sql.SparkSession
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.concurrent.Eventually
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.{Seconds, Span}

/** Query-surface guards at sf0.001: every registered query executes and
  * returns rows; every query key with an oracle also appears in oracleSql;
  * plus unit coverage of PolyHash (interpreted vs codegen paths) and the
  * media decode stub.
  */
class QueriesSpec extends AnyFunSuite with Eventually {

  implicit override val patienceConfig: PatienceConfig = PatienceConfig(timeout = Span(10, Seconds))

  private val sf = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-queries-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  // Rows that start a streaming query (StreamRun) or scope confs around an
  // eager loop (Confs.withConfs): each must leave the session's explicit
  // confs exactly as it found them.
  private val scopedRows = Set(
    "q_stream_windows", "q_session_window_stream", "q_sessionize_stream",
    "q_sessionize_tws", "q_stream_dedup", "q_stream_dedup_wm", "q_transform_state",
    "q_stream_join", "q_stream_join_semi", "q_stream_join_agg", "q_stream_join_outer",
    "q_stream_join_full", "q_stream_static_join", "q_stream_sink_files",
    "q_cdc_apply_stream", "q_funnel_stream", "q_funnel_tws", "q_stream_checksum",
    "q_foreach_batch", "q_state_reader", "q_stream_chained", "q_stream_union",
    "q_checkpoint_restart", "q_tws_restart", "q_stencil_stream", "q_search_stream",
    "q_ann_stream_ingest", "q_pagerank", "q_bpe_train", "q_bpe_apply")

  test("every registered query runs and returns rows at sf0.001") {
    spark.sparkContext.setLogLevel("WARN")
    assert(scopedRows.subsetOf(SparkEntry.queries.keySet))
    // the flagship entry rides along: it drives SparkClient like
    // q_search_stream, and both must tear their evaluation pool down
    val entry = "SparkEntry.entry" -> ((s: SparkSession, _: String) => SparkEntry.entry(s))
    val empties = (SparkEntry.queries.toSeq.sortBy(_._1) :+ entry).flatMap { case (name, fn) =>
      val confs = spark.conf.getAll
      val n = fn(spark, sf).count()
      assert(spark.streams.active.isEmpty, s"$name left a streaming query active")
      eventually {
        assert(Leftovers.activeJobs(spark.sparkContext).isEmpty, s"$name left a Spark job active")
      }
      assert(Leftovers.evalThreads.isEmpty, s"$name left a graft-spark-eval thread alive")
      if (scopedRows(name)) {
        val after = spark.conf.getAll
        assert(after == confs, s"$name changed session confs: " +
          (confs.keySet ++ after.keySet).filter(k => confs.get(k) != after.get(k))
            .map(k => s"$k: ${confs.get(k)} -> ${after.get(k)}").mkString(", "))
      }
      if (n == 0) Some(name) else None
    }
    assert(empties.isEmpty, s"queries with empty results: $empties")
  }

  test("memoized frames evict on dir switch — two dirs never double-persist") {
    // VERDICT r10 #6: the gram frame and the IVF quantizer memos must keep
    // at most one dir per session — switching dirs evicts and unpersists
    // the previous dir's frames instead of pinning them forever.
    spark.sparkContext.setLogLevel("WARN")
    val sfB = "/root/testdata/sf0.01"
    // eviction groups by DIR: several widths/nCells for one dir coexist
    // (alternating gram widths within a sweep must not thrash the cache),
    // but a dir switch evicts every entry of the previous dir
    SparkEntry.queries("q_dup_ngrams")(spark, sf).count()
    assert(Pipeline.gramFrameCache.keysFor(spark).map(_._1).distinct == Seq(sf))
    SparkEntry.queries("q_dup_ngrams")(spark, sfB).count()
    assert(Pipeline.gramFrameCache.keysFor(spark).map(_._1).distinct == Seq(sfB),
      "gram frames for the first dir must be evicted on dir switch")
    SparkEntry.queries("q_ann_ivf")(spark, sf).count()
    assert(AnnIvf.fitCache.keysFor(spark).map(_._1).distinct == Seq(sf))
    SparkEntry.queries("q_ann_ivf")(spark, sfB).count()
    assert(AnnIvf.fitCache.keysFor(spark).map(_._1).distinct == Seq(sfB),
      "IVF quantizer for the first dir must be evicted on dir switch")
    // and the evicted dir still works (recompute, not failure)
    assert(SparkEntry.queries("q_dup_ngrams")(spark, sf).count() > 0)
  }

  test("halfResize keeps even rows/cols and sums kept RGB bytes (odd dims)") {
    // 3x3 raster, bytes 0..26: kept pixels (r,c) in {0,2}x{0,2} have bases
    // (r*3+c)*3 = 0, 6, 18, 24; each contributes base+(base+1)+(base+2).
    val img = Media.PpmImage(3, 3, Array.tabulate(27)(_.toByte))
    val (ow, oh, sum) = Media.halfResize(img)
    assert(ow == 2 && oh == 2)
    assert(sum == Seq(0, 6, 18, 24).map(b => 3 * b + 3).sum, s"sum=$sum")
  }

  test("native session_window merges an exact-gap tie and splits one microsecond past it") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, session_window, timestamp_micros}
    // Empirical boundary pin for q_session_window's oracle: a new window
    // whose start EQUALS the current end (last + gap) still merges — Spark
    // splits only on diff > gap, the same strict rule as q_sessionize's
    // lag spelling. If a Spark upgrade ever flips this to >=, the oracle
    // replay goes stale and THIS named test breaks first.
    def sessions(deltaUs: Long): Long = {
      val t0 = 1704067200000000L
      Seq((1L, t0), (1L, t0 + deltaUs)).toDF("user_id", "tus")
        .select(col("user_id"), timestamp_micros(col("tus")).as("tts"))
        .groupBy(session_window(col("tts"), "30 minutes"), col("user_id"))
        .count().count()
    }
    assert(sessions(1800000000L) == 1L, "exact-gap tie must merge (diff > gap splits)")
    assert(sessions(1800000001L) == 2L, "one microsecond past the gap must split")
  }

  test("oracleSql keys are a subset of queries keys") {
    val extra = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(extra.isEmpty, s"oracles without queries: $extra")
  }

  test("poly_hash matches the reference fold and survives codegen") {
    // fold over 'abc': ((0*31+97)*31+98)*31+99 mod P = 96354
    assert(PolyHash.hash(UTF8String.fromString("abc")) == 96354L)
    assert(PolyHash.hash(UTF8String.fromString("")) == 0L)
    import spark.implicits._
    graft.GraftExtensions.register(spark)
    val df = Seq("abc", "", "key agg row").toDF("s")
      .select(org.apache.spark.sql.functions.expr("poly_hash(s)").as("fp"))
    val got = df.collect().map(_.getLong(0)).toSeq
    assert(got.head == 96354L)
    assert(got(1) == 0L)
    // codegen and interpreted agree
    val interp = PolyHash.hash(UTF8String.fromString("key agg row"))
    assert(got(2) == interp)
  }

  test("nfc_normalize composes canonically and survives codegen") {
    import graft.functions.NfcNormalize
    // Explicit escapes, not glyphs: decomposed e + COMBINING ACUTE (U+0301)
    // must compose to precomposed U+00E9.
    val dec = UTF8String.fromString("cafe\u0301")
    val pre = UTF8String.fromString("caf\u00e9")
    assert(NfcNormalize.normalize(dec) == pre)
    // fast path: already-NFC input returns the SAME object, no copy
    assert(NfcNormalize.normalize(pre) eq pre)
    val ascii = UTF8String.fromString("plain ascii")
    assert(NfcNormalize.normalize(ascii) eq ascii)
    // codegen path agrees with the interpreted call
    import spark.implicits._
    graft.GraftExtensions.register(spark)
    val got = Seq("cafe\u0301", "caf\u00e9", "x")
      .toDF("s")
      .selectExpr("nfc_normalize(s) AS n", "length(s) AS l",
        "length(nfc_normalize(s)) AS ln")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2)))
    assert(got(0) == (("caf\u00e9", 5, 4)), got.mkString(","))
    assert(got(1) == (("caf\u00e9", 4, 4)))
    assert(got(2) == (("x", 1, 1)))
  }

  test("media byte-feature kernel: histogram sums to byte count, entropy bounded") {
    val bytes = "hello world".getBytes("UTF-8")
    val (mean, entropy, hist) = Media.byteFeatures(bytes)
    assert(hist.sum == bytes.length.toDouble)
    assert(entropy >= 0 && entropy <= 4.0) // 16 bins -> max 4 bits
    assert(mean > 0)
    val (_, e0, _) = Media.byteFeatures(Array.emptyByteArray)
    assert(e0 == 0.0)
  }

  test("PPM codec: encode round-trips through the real decoder") {
    val content = "the quick brown fox jumps over the lazy dog".getBytes("UTF-8")
    val img = Media.decodePpm(Media.encodePpm(content))
    assert(img.width == 32 && img.height == 1)
    assert(img.raster.length == 32 * 1 * 3)
    assert(img.raster.take(content.length).toSeq == content.toSeq)
    assert(img.raster.drop(content.length).forall(_ == 0)) // zero padding
    // multi-row: 100 bytes -> 34 pixels -> still 1 row; 300 bytes -> 100
    // pixels -> 4 rows of 32
    val big = Array.fill[Byte](300)(7)
    val img2 = Media.decodePpm(Media.encodePpm(big))
    assert(img2.height == 4 && img2.raster.length == 32 * 4 * 3)
    val empty = Media.decodePpm(Media.encodePpm(Array.emptyByteArray))
    assert(empty.width == 32 && empty.height == 1 && empty.raster.forall(_ == 0))
  }

  test("PPM decoder: handcrafted image with comments; malformed payloads throw") {
    val hand = ("P6\n# a comment line\n2 1\n# another\n255\n".getBytes("US-ASCII")
      ++ Array[Byte](10, 20, 30, 40, 50, 60))
    val img = Media.decodePpm(hand)
    assert(img.width == 2 && img.height == 1)
    assert(img.raster.toSeq == Seq[Byte](10, 20, 30, 40, 50, 60))
    intercept[IllegalArgumentException] {
      Media.decodePpm("P5\n2 1\n255\n??".getBytes("US-ASCII")) // wrong magic
    }
    intercept[IllegalArgumentException] {
      Media.decodePpm("P6\n2 1\n65535\n??????".getBytes("US-ASCII")) // 16-bit
    }
    intercept[IllegalArgumentException] {
      Media.decodePpm(("P6\n2 1\n255\n".getBytes("US-ASCII") ++ Array[Byte](1, 2))) // truncated
    }
  }

  test("BMP codec: encode/decode round-trips content; malformed payloads throw") {
    // round-trip: decoded raster = content zero-padded to full 32-pixel rows,
    // surviving the bottom-up row order and the BGR<->RGB flips
    val content = Array.tabulate[Byte](200)(i => (i * 7 % 251).toByte)
    val img = Media.decodeBmp(Media.encodeBmp(content))
    assert(img.width == Media.BmpWidth && img.height == 3) // ceil(ceil(200/3)/32)
    assert(img.raster.length == 32 * 3 * 3)
    assert(img.raster.take(200).toSeq == content.toSeq)
    assert(img.raster.drop(200).forall(_ == 0))
    // a foreign-producer header: general stride path (w=1 -> 4-byte stride
    // with 1 pad byte per row), blue pixel over red pixel
    val hand = java.nio.ByteBuffer.allocate(54 + 16)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    hand.put('B'.toByte).put('M'.toByte).putInt(70).putShort(0).putShort(0).putInt(54)
    hand.putInt(40).putInt(1).putInt(2).putShort(1).putShort(24)
      .putInt(0).putInt(16).putInt(0).putInt(0).putInt(0).putInt(0)
    hand.put(Array[Byte](0, 0, -1, 0))    // bottom row: BGR red + pad
    hand.put(Array[Byte](-1, 0, 0, 0))    // top row: BGR blue + pad
    val two = Media.decodeBmp(hand.array())
    assert(two.raster.toSeq == Seq[Byte](0, 0, -1, -1, 0, 0)) // RGB top-down
    intercept[IllegalArgumentException] {
      Media.decodeBmp("XX".getBytes("US-ASCII") ++ new Array[Byte](60)) // magic
    }
    intercept[IllegalArgumentException] {
      val b = Media.encodeBmp(content); b(28) = 8 // 8-bit palette bpp
      Media.decodeBmp(b)
    }
    intercept[IllegalArgumentException] {
      Media.decodeBmp(Media.encodeBmp(content).dropRight(5)) // truncated raster
    }
  }

  test("PNG codec (ImageIO): encode/decode round-trips content; malformed throws") {
    // lossless round-trip through the JDK's real PNG writer/reader:
    // decoded raster = content zero-padded to full 32-pixel RGB rows,
    // identical to the PPM raster for the same content (shared oracle)
    val content = Array.tabulate[Byte](200)(i => (i * 11 % 251).toByte)
    val payload = Media.encodePng(content)
    // a genuine PNG container: 8-byte signature
    assert(payload.take(8).toSeq ==
      Seq(0x89, 'P', 'N', 'G', '\r', '\n', 0x1a, '\n').map(_.toByte))
    val img = Media.decodePng(payload)
    assert(img.width == Media.PpmWidth && img.height == 3) // ceil(ceil(200/3)/32)
    assert(img.raster.take(200).toSeq == content.toSeq)
    assert(img.raster.drop(200).forall(_ == 0))
    assert(img.raster.toSeq == Media.decodePpm(Media.encodePpm(content)).raster.toSeq)
    val empty = Media.decodePng(Media.encodePng(Array.emptyByteArray))
    assert(empty.width == 32 && empty.height == 1 && empty.raster.forall(_ == 0))
    intercept[IllegalArgumentException] {
      Media.decodePng("definitely not a png".getBytes("US-ASCII"))
    }
  }

  test("TIFF codec (ImageIO): lossless round-trip, agrees with the PPM raster") {
    val content = Array.tabulate[Byte](200)(i => (i * 13 % 247).toByte)
    val payload = Media.encodeTiff(content)
    // a genuine TIFF container: II*\0 (little-endian) or MM\0* (big-endian)
    val magic = payload.take(4).toSeq
    assert(magic == Seq[Byte]('I', 'I', 42, 0) || magic == Seq[Byte]('M', 'M', 0, 42),
      s"not a TIFF header: $magic")
    val img = Media.decodeTiff(payload)
    assert(img.width == Media.PpmWidth && img.height == 3)
    assert(img.raster.take(200).toSeq == content.toSeq)
    assert(img.raster.toSeq == Media.decodePpm(Media.encodePpm(content)).raster.toSeq)
    intercept[IllegalArgumentException] {
      Media.decodeTiff("definitely not a tiff".getBytes("US-ASCII"))
    }
  }

  test("WAV codec: encode/decode round-trips samples; chunk walk; malformed throw") {
    // round-trip: samples = content exactly (the RIFF even-byte pad is
    // container-only, never a sample), rate as stamped
    val content = Array.tabulate[Byte](201)(i => (i * 13 % 251).toByte) // odd length
    val clip = Media.decodeWav(Media.encodeWav(content))
    assert(clip.sampleRate == Media.WavSampleRate)
    assert(clip.samples.toSeq == content.toSeq)
    assert(Media.encodeWav(content).length == 44 + 202) // padded container
    val empty = Media.decodeWav(Media.encodeWav(Array.emptyByteArray))
    assert(empty.samples.isEmpty)
    // a foreign-producer file: unknown odd-sized chunk between fmt and data
    // is skipped with the even-byte advance
    val hand = java.nio.ByteBuffer.allocate(12 + 24 + 8 + 3 + 1 + 8 + 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    hand.put("RIFF".getBytes).putInt(40 + 8).put("WAVE".getBytes)
    hand.put("fmt ".getBytes).putInt(16).putShort(1).putShort(1)
      .putInt(44100).putInt(44100).putShort(1).putShort(8)
    hand.put("junk".getBytes).putInt(3).put(Array[Byte](9, 9, 9, 0)) // 3 + pad
    hand.put("data".getBytes).putInt(4).put(Array[Byte](1, 2, 3, 4))
    val foreign = Media.decodeWav(hand.array())
    assert(foreign.sampleRate == 44100)
    assert(foreign.samples.toSeq == Seq[Byte](1, 2, 3, 4))
    intercept[IllegalArgumentException] {
      Media.decodeWav("RIFX".getBytes ++ new Array[Byte](40)) // magic
    }
    intercept[IllegalArgumentException] {
      val b = Media.encodeWav(content); b(22) = 2 // stereo
      Media.decodeWav(b)
    }
    intercept[IllegalArgumentException] {
      val b = Media.encodeWav(content); b(34) = 16 // 16-bit
      Media.decodeWav(b)
    }
    intercept[IllegalArgumentException] {
      Media.decodeWav(Media.encodeWav(content).dropRight(9)) // truncated data
    }
    intercept[IllegalArgumentException] { // data before fmt: rate unknown
      val b = java.nio.ByteBuffer.allocate(12 + 8 + 2)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.put("RIFF".getBytes).putInt(10).put("WAVE".getBytes)
      b.put("data".getBytes).putInt(2).put(Array[Byte](5, 6))
      Media.decodeWav(b.array())
    }
  }

  test("Y4M codec: frame round-trip, tag tolerance, malformed throw") {
    // round-trip: 900 bytes -> 3 frames of 384 with zero padding
    val content = Array.tabulate[Byte](900)(i => (i * 11 % 251).toByte)
    val clip = Media.decodeY4m(Media.encodeY4m(content))
    assert(clip.width == 32 && clip.height == 4 && clip.frames.length == 3)
    assert(clip.frames.flatten.take(900).toSeq == content.toSeq)
    assert(clip.frames.flatten.drop(900).forall(_ == 0))
    val empty = Media.decodeY4m(Media.encodeY4m(Array.emptyByteArray))
    assert(empty.frames.length == 1 && empty.frames.head.forall(_ == 0))
    // a foreign-producer stream: unknown X header tag, per-frame params
    val hand = ("YUV4MPEG2 W2 H1 F30:1 Ip A1:1 C444 XCOLORRANGE=FULL\n" +
      "FRAME Ip\n").getBytes("US-ASCII") ++ Array[Byte](1, 2, 3, 4, 5, 6)
    val foreign = Media.decodeY4m(hand)
    assert(foreign.width == 2 && foreign.frames.head.toSeq == Seq[Byte](1, 2, 3, 4, 5, 6))
    intercept[IllegalArgumentException] {
      Media.decodeY4m("JUNK W2 H1 C444\nFRAME\n??????".getBytes("US-ASCII"))
    }
    intercept[IllegalArgumentException] { // C420 default: only C444 decodable
      Media.decodeY4m(("YUV4MPEG2 W2 H1\nFRAME\n" + "abc").getBytes("US-ASCII"))
    }
    intercept[IllegalArgumentException] { // truncated frame
      Media.decodeY4m(Media.encodeY4m(content).dropRight(7))
    }
  }

  test("audioStats: integer mean centering, energy, strict-pair crossings") {
    // samples 100,200,100,200: mu = 150, energy = 4*2500, signs -,+,-,+
    val (n1, e1, c1) = Media.audioStats(Array[Byte](100, 200.toByte, 100, 200.toByte))
    assert((n1, e1, c1) == (4L, 10000L, 3L))
    // an exactly-at-mean sample breaks the pair on both sides:
    // 100,150,200 -> mu=150, signs -,0,+ -> 0 crossings
    val (_, _, c2) = Media.audioStats(Array[Byte](100, 150.toByte, 200.toByte))
    assert(c2 == 0L)
    // floor-mean: 1,2,2 -> mu = 5/3 = 1; devs 0,1,1 -> energy 2, 0 crossings
    val (_, e3, c3) = Media.audioStats(Array[Byte](1, 2, 2))
    assert((e3, c3) == (2L, 0L))
    assert(Media.audioStats(Array.emptyByteArray) == ((0L, 0L, 0L)))
  }

  test("cdc_apply: tombstoned keys absent, last-writer-wins by (tus, event_id)") {
    import org.apache.spark.sql.functions._
    // replay the semantics on a handcrafted log through the same plan
    import spark.implicits._
    val log = Seq(
      // user 1: two upserts -> survives with the later value
      (1L, 1L, 100L, "view", 1.0), (2L, 1L, 200L, "purchase", 2.0),
      // user 2: upsert then tombstone -> absent
      (3L, 2L, 100L, "view", 3.0), (4L, 2L, 300L, "error", 0.0),
      // user 3: tombstone then upsert -> survives (tombstone not last)
      (5L, 3L, 100L, "error", 0.0), (6L, 3L, 150L, "click", 4.0),
      // user 4: same tus tie -> higher event_id wins
      (7L, 4L, 500L, "view", 5.0), (8L, 4L, 500L, "signup", 6.0))
      .toDF("event_id", "user_id", "tus", "event_type", "value")
    val out = log.groupBy(col("user_id"))
      .agg(max_by(struct(col("event_type"), col("tus"), col("value")),
        struct(col("tus"), col("event_id"))).as("last"),
        count(lit(1)).as("n_changes"))
      .filter(col("last.event_type") =!= "error")
      .select(col("user_id"), col("last.event_type").as("t"),
        col("last.value").as("v"), col("n_changes"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getLong(3)))
      .sortBy(_._1)
    assert(out.toSeq == Seq((1L, "purchase", 2.0, 2L), (3L, "click", 4.0, 2L),
      (4L, "signup", 6.0, 2L)))
  }

  test("q_sample_pps draws exactly K with PPS multiplicity") {
    val rows = SparkEntry.queries("q_sample_pps")(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("n_draws")).sum == 25L)
    assert(rows.forall(_.getAs[Long]("n_draws") >= 1L))
    // every selected document's interval (cum-w, cum] covers >= 1 stride
    // boundary by construction; spot the determinism by re-running
    val again = SparkEntry.queries("q_sample_pps")(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("doc_id")).sorted.toSeq ==
      again.map(_.getAs[Long]("doc_id")).sorted.toSeq)
  }

  test("q_embed_covariance: 36 pairs, nonnegative variance on the diagonal") {
    val rows = SparkEntry.queries("q_embed_covariance")(spark, sf).collect()
    assert(rows.length == 36)
    rows.filter(r => r.getAs[Long]("i") == r.getAs[Long]("j")).foreach { r =>
      val n = r.getAs[Long]("n"); val s = r.getAs[Long]("s_i")
      val sii = r.getAs[Long]("s_ij")
      assert(n * sii - s * s >= 0L, s"negative variance at dim ${r.getAs[Long]("i")}")
      assert(s == r.getAs[Long]("s_j"))
    }
  }

  test("q_bpe_train: greedy runs, lexicographic ties, early exhaustion") {
    import spark.implicits._
    // toy corpus: words abab (freq 2), aaa (freq 1)
    //   r1: (a,b) cnt 4 -> abab = [ab, ab]
    //   r2: tie (ab,ab)=2 vs (a,a)=2 -> lexicographic argmax picks (a,a);
    //       aaa = [aa, a] (greedy leftmost on the run)
    //   r3: (ab,ab) 2 -> abab = [abab]
    //   r4: (aa,a) 1 -> aaa = [aaa]
    //   r5: no pairs left -> no row (the exhaustion guard)
    withTempDir("bpe") { dir =>
      Seq((0L, "abab abab aaa", "en", "src0", 13L))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val out = SparkEntry.queries("q_bpe_train")(spark, dir)
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
        .sortBy(_._1)
      assert(out.toSeq == Seq(
        (1L, "a", "b", 4L), (2L, "a", "a", 2L),
        (3L, "ab", "ab", 2L), (4L, "aa", "a", 1L)))
    }
  }

  test("zorder: the div/mod bit interleave computes the textbook Morton code") {
    import org.apache.spark.sql.functions.expr
    import spark.implicits._
    // xq=3 (bits 1,1,0 at even positions), yq=5 (bits 1,0,1 at odd):
    // z = 1 + 2 + 4 + 0 + 0 + 32 = 39; plus identities and the max corner
    def z(xq: String, yq: String): String =
      (0 until 8).map { k =>
        val p = 1L << k
        s"(($xq div $p) % 2) * ${1L << (2 * k)} + (($yq div $p) % 2) * ${1L << (2 * k + 1)}"
      }.mkString(" + ")
    val rows = Seq((3L, 5L), (0L, 0L), (255L, 0L), (0L, 255L), (255L, 255L))
      .toDF("xq", "yq")
      .select(expr(z("xq", "yq")).as("z"))
      .collect().map(_.getLong(0)).toSeq
    assert(rows == Seq(39L, 0L, 0x5555L, 0xAAAAL, 0xFFFFL))
  }

  test("content-addressed rows are identical under independent recomputation") {
    // the reproducibility these rows PROMISE (re-runs select the same
    // rows/buckets) — recompute each from scratch and compare exactly
    for (name <- Seq("q_domain_caps", "q_zorder_layout", "q_retention",
      "q_gopher_rules", "q_mad_anomalies")) {
      val a = SparkEntry.queries(name)(spark, sf).collect().map(_.toString).sorted.toSeq
      val b = SparkEntry.queries(name)(spark, sf).collect().map(_.toString).sorted.toSeq
      assert(a == b, s"$name drifted between runs")
    }
  }

  test("media features pipeline preserves one row per document") {
    val docs = spark.read.parquet(s"$sf/documents.parquet").count()
    val feats = Media.features(spark, sf)
    assert(feats.count() == docs)
    assert(feats.columns.toSet ==
      Set("doc_id", "format", "n_bytes", "mean_byte", "byte_entropy", "histogram"))
  }

  test("clusters on a corpus with no near-duplicates returns empty, not NPE") {
    // The common clean-corpus case: the MinHash pair graph is empty, so the
    // label-propagation loop must short-circuit to an empty (doc_id,
    // cluster_id, keep) frame instead of NPE-ing on sum() over zero rows
    // (VERDICT r5 wrong-list #1).
    import spark.implicits._
    withTempDir("graft-nodups") { dir =>
      val texts = Seq(
        "alpha bravo charlie delta echo foxtrot",
        "golf hotel india juliet kilo lima",
        "mike november oscar papa quebec romeo",
        "sierra tango uniform victor whiskey xray",
        "yankee zulu apple banana cherry date",
        "elder fig grape honey iris jasmine")
      texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val out = Dedup.clusters.fn(spark, dir)
      assert(out.columns.toSeq == Seq("doc_id", "cluster_id", "keep"))
      assert(out.count() == 0L)
    }
  }

  test("decontaminate excludes the eval slice and reports positive overlap") {
    import org.apache.spark.sql.functions.col
    val out = Pipeline.decontaminate.fn(spark, sf).cache()
    try {
      assert(out.count() > 0)
      // eval docs (doc_id % 37 == 0) are the benchmark side, never flagged
      assert(out.filter(col("doc_id") % 37 === 0).count() == 0L)
      assert(out.filter(col("n_shared") < 1).count() == 0L)
    } finally out.unpersist()
  }

  test("stratified sample honors the per-language quota and is deterministic") {
    import org.apache.spark.sql.functions.{col, count}
    val a = Pipeline.sampleStratified.fn(spark, sf)
    val over = a.groupBy(col("lang")).agg(count(col("doc_id")).as("n"))
      .filter(col("n") > 20)
    assert(over.count() == 0L, "a language exceeded its quota")
    // content-addressed selection: a second run selects the identical set
    val b = Pipeline.sampleStratified.fn(spark, sf)
    assert(a.exceptAll(b).count() == 0L && b.exceptAll(a).count() == 0L)
  }

  test("repetition ratio is bounded and exact on a handcrafted doc") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    withTempDir("graft-rep") { dir =>
      // "a b a b a b": 5 bigrams, 2 distinct -> dup_10k = 3*10000/5 = 6000
      Seq((0L, "a b a b a b"), (1L, "x y z w"))
        .toDF("doc_id", "text")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val rows = Pipeline.repetition.fn(spark, dir)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
      assert(rows(0L) == ((5L, 2L, 6000L)))
      assert(rows(1L) == ((3L, 3L, 0L)))
      val bounds = Pipeline.repetition.fn(spark, sf)
        .filter(col("dup_10k") < 0 || col("dup_10k") > 10000 ||
          col("n_distinct") > col("n_bigrams"))
      assert(bounds.count() == 0L)
    }
  }

  test("fine dup spans see 4-word and within-doc repeats that q_dup_spans cannot") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    withTempDir("graft-finespan") { dir =>
      // doc 0 repeats "red fox jumps high" INSIDE itself (within-doc, 4 words:
      // both dupSpans gaps at once); docs 1 and 2 share the same 4 words
      // cross-doc. All words are otherwise unique so no accidental marks.
      Seq(
        (0L, "red fox jumps high aa bb cc dd red fox jumps high"),
        (1L, "ee ff red fox jumps high gg hh"),
        (2L, "red fox jumps high ii jj kk ll"))
        .toDF("doc_id", "text")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      // width-8 cross-doc spans: none (no 8-gram repeats across docs)
      assert(Pipeline.dupSpans.fn(spark, dir).count() == 0L)
      val fine = Pipeline.dupSpansFine.fn(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
      // every occurrence of the repeated 4 words is a 1-gram island -> a
      // 4-word span at each position: doc 0 pos 1 and 9, doc 1 pos 3, doc 2 pos 1
      assert(fine == Set((0L, 1L, 4L), (0L, 9L, 4L), (1L, 3L, 4L), (2L, 1L, 4L)))
    }
  }

  test("split assignment is content-addressed: invariant to corpus changes") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // the defining property: a doc's split depends only on its own text,
    // so doubling the corpus with new docs doubles counts per cell without
    // ever moving an existing doc across splits
    withTempDir("graft-splitA") { dirA =>
      withTempDir("graft-splitB") { dirB =>
        val base = spark.read.parquet(s"$sf/documents.parquet")
          .select(col("doc_id"), col("text"), col("lang")).limit(100).cache()
        base.write.mode("overwrite").parquet(s"$dirA/documents.parquet")
        val shifted = base.withColumn("doc_id", col("doc_id") + 1000000L)
        base.union(shifted).write.mode("overwrite").parquet(s"$dirB/documents.parquet")
        def cells(d: String) = Pipeline.splitAssign.fn(spark, d)
          .collect().map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getLong(3)))).toMap
        val a = cells(dirA); val b = cells(dirB)
        assert(b == a.map { case (k, (d, t)) => k -> ((2 * d, 2 * t)) })
        val total = a.values.map(_._1).sum
        assert(total == 100 && a.keys.map(_._1).toSet.subsetOf(Set("train", "val", "test")))
      }
    }
  }

  test("span scrubbing removes exactly the mined spans and refingerprints") {
    import spark.implicits._
    withTempDir("graft-scrub") { dir =>
      // docs 0 and 1 share the 8-gram f1..f8 (at pos 1 and pos 2); doc 2 is
      // untouched. Scrubbing must remove exactly the 8-word spans dupSpans
      // reports and keep the remainder in order.
      Seq(
        (0L, "f1 f2 f3 f4 f5 f6 f7 f8 tail0a tail0b"),
        (1L, "pre1 f1 f2 f3 f4 f5 f6 f7 f8"),
        (2L, "u1 u2 u3 u4 u5 u6 u7 u8 u9"))
        .toDF("doc_id", "text")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      def fp(s: String): Long = {
        val hex = java.security.MessageDigest.getInstance("MD5")
          .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
        java.lang.Long.parseLong(hex.take(8), 16)
      }
      val got = Pipeline.scrubSpans.fn(spark, dir)
        .collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
        .toMap
      assert(got(0L) == ((2L, 8L, fp("tail0a tail0b"))))
      assert(got(1L) == ((1L, 8L, fp("pre1"))))
      assert(got(2L) == ((9L, 0L, fp("u1 u2 u3 u4 u5 u6 u7 u8 u9"))))
      // consistency with the miner: per-doc removed = sum of reported span widths
      val spans = Pipeline.dupSpans.fn(spark, dir)
        .collect().groupBy(_.getLong(0))
        .view.mapValues(_.map(_.getLong(3)).sum).toMap
      assert(spans == Map(0L -> 8L, 1L -> 8L))
    }
  }

  test("global index is the exact (lang, doc_id) rank with contiguous ids") {
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("lang"))
      .collect().map(r => (r.getString(1), r.getLong(0)))
    val expected = docs.sorted.zipWithIndex
      .map { case ((_, docId), i) => docId -> i.toLong }.toMap
    val got = Pipeline.globalIndex.fn(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected) // permutation of 0..n-1 in (lang, doc_id) order
  }

  test("rank memo keys on the source fingerprint — regeneration mints fresh ranks") {
    // ADVICE r15: the (dir, tag) memo key served pre-regeneration ranks if
    // the dataset at `dir` was rebuilt mid-session. The key now folds in
    // the documents-parquet fingerprint, so a rewrite at the SAME dir must
    // produce ranks over the NEW rows, not the persisted stale frame.
    import spark.implicits._
    withTempDir("graft-rankfp") { dir =>
      def write(rows: Seq[(Long, String)]): Unit = rows
        .toDF("doc_id", "lang")
        .withColumn("text", org.apache.spark.sql.functions.lit("w"))
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      write(Seq((10L, "en"), (11L, "de")))
      val first = Pipeline.globalIndex.fn(spark, dir)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(first == Map(11L -> 0L, 10L -> 1L)) // (lang, doc_id) order: de < en
      write(Seq((10L, "en"), (11L, "de"), (12L, "aa")))
      val second = Pipeline.globalIndex.fn(spark, dir)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(second == Map(12L -> 0L, 11L -> 1L, 10L -> 2L),
        "stale rank frame served after the source parquet was regenerated")
      // code-review r15: the stale generation must be EVICTED, not just
      // bypassed — grouped by dir alone the old persisted frame leaked for
      // the session's lifetime, once per regeneration.
      val liveGroups = Pipeline.rankMemo.keysFor(spark)
        .map(_._1).filter(_.startsWith(dir)).toSet
      assert(liveGroups.size <= 1,
        s"regeneration left stale rank-frame generations alive: $liveGroups")
    }
  }

  test("gram novelty counts distinct 8-grams first seen in each document") {
    import spark.implicits._
    withTempDir("graft-novelty") { dir =>
      // doc 0: 9 words -> 2 distinct 8-grams, both first-seen.
      // doc 1: identical text -> same 2 grams, zero first-seen.
      // doc 2: repeats its own leading 8-gram at pos 9 -> 9 positional grams
      //        but 8 DISTINCT ones (within-doc dups collapse), all first-seen.
      // doc 3: 7 words -> below gram width, no output row.
      Seq(
        (0L, "a b c d e f g h i"),
        (1L, "a b c d e f g h i"),
        (2L, "x1 x2 x3 x4 x5 x6 x7 x8 x1 x2 x3 x4 x5 x6 x7 x8"),
        (3L, "s1 s2 s3 s4 s5 s6 s7"))
        .toDF("doc_id", "text")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val got = Pipeline.gramNovelty.fn(spark, dir)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(got == Map(0L -> ((2L, 2L)), 1L -> ((2L, 0L)), 2L -> ((8L, 8L))))
    }
  }

  test("embedding centroids: exact fixed-point mean incl. a .5-boundary cell") {
    import spark.implicits._
    // The cell engineered here is exactly the class that broke the r8 gate:
    // fixed values 217 + 218 over n=2 give 435/20000 = 0.02175, a quotient
    // ending in 5 at the 5th decimal where Spark's round(HALF_UP) and
    // DuckDB's binary-double round disagree. The query now emits the raw
    // IEEE quotient, which must equal 435.0/20000.0 bit-for-bit.
    withTempDir("graft-centroid") { dir =>
      Seq(
        (0L, Array(0.0217f, 1.0f), 0),
        (1L, Array(0.0218f, 2.0f), 0),
        (2L, Array(-1.0f, -3.0f), 1))
        .toDF("vec_id", "embedding", "label")
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      val got = Similarity.embedCentroids.fn(spark, dir)
        .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
      assert(got((0, 0)) == 435.0 / 20000.0) // 0.02175 exactly, NOT rounded
      assert(got((0, 1)) == 1.5)
      assert(got((1, 0)) == -1.0 && got((1, 1)) == -3.0)
      assert(got.size == 4)
    }
  }

  test("top-k terms per language ranks by count with token tie-break") {
    import spark.implicits._
    withTempDir("graft-topkterms") { dir =>
      Seq(
        (0L, "a a a b b c", "en"),
        (1L, "c b a", "en"),
        (2L, "x y x", "de"))
        .toDF("doc_id", "text", "lang")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val got = TextOps.topkTermsPerLang.fn(spark, dir)
        .collect()
        .map(r => (r.getString(0), r.getInt(3)) -> ((r.getString(1), r.getLong(2))))
        .toMap
      // en: a=4, b=3, c=2; de: x=2, y=1 (tie-break never needed here except
      // proving rank order is (cnt desc, token asc))
      assert(got(("en", 1)) == (("a", 4L)))
      assert(got(("en", 2)) == (("b", 3L)))
      assert(got(("en", 3)) == (("c", 2L)))
      assert(got(("de", 1)) == (("x", 2L)))
      assert(got(("de", 2)) == (("y", 1L)))
      assert(got.size == 5)
    }
  }

  test("int8 quantization: exact codes, error fold, and constant-dim guard") {
    import spark.implicits._
    // dim 0 spans [0,1]: 0.0 -> code 0 (err 0), 1.0 -> 255 (err 0),
    // 0.5 -> floor(127.5 + 0.5) = 128, recon 128/255 = 0.50196...,
    // err_fp7 = floor(0.0019607843 * 1e7 + 0.5) = 19608.
    // dim 1 is CONSTANT: mx = mn must quantize to 0, not divide by zero.
    withTempDir("graft-quant") { dir =>
      Seq(
        (0L, Array(0.0f, 5.0f), 0),
        (1L, Array(1.0f, 5.0f), 0),
        (2L, Array(0.5f, 5.0f), 1))
        .toDF("vec_id", "embedding", "label")
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      val got = Similarity.embedQuantize.fn(spark, dir)
        .collect()
        .map(r => (r.getInt(0), r.getInt(1)) -> ((r.getLong(2), r.getLong(3), r.getLong(4))))
        .toMap
      assert(got((0, 0)) == ((2L, 255L, 0L)))
      assert(got((0, 1)) == ((2L, 0L, 0L)))
      assert(got((1, 0)) == ((1L, 128L, 19608L)))
      assert(got((1, 1)) == ((1L, 0L, 0L)))
      assert(got.size == 4)
    }
  }

  test("quantized ANN keeps most of the float top-10 and full rank structure") {
    val fl = Similarity.annTopk.fn(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val qn = Similarity.annQuantized.fn(spark, sf).collect()
    // every query emits ranks 1..10 exactly once
    val ranks = qn.groupBy(_.getLong(0)).view.mapValues(_.map(_.getInt(3)).sorted.toSeq)
    assert(ranks.values.forall(_ == (1 to 10)), ranks.toMap.toString)
    // int8 codes lose some ordering on this near-uniform corpus (cosine
    // margins are tiny) but must retain the bulk of the float top-10:
    // measured 33/50 at sf0.001, floored conservatively
    val overlap = qn.map(r => (r.getLong(0), r.getLong(1))).count(fl.contains)
    assert(overlap >= 25, s"quantized/float top-10 overlap collapsed: $overlap/50")
  }

  test("centroid summarizer shape is bit-identical to the explode plan") {
    // Both forms sum the same 1e-4 fixed-point longs and divide by the same
    // BIGINTs, so every cell must match to the last IEEE bit — the property
    // that lets either shape back the gate row interchangeably.
    val a = Similarity.embedCentroids.fn(spark, sf)
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    val b = Similarity.embedCentroidsTreeAgg(spark, sf)
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(a.keySet == b.keySet && a.nonEmpty)
    a.foreach { case (k, v) => assert(v == b(k), s"cell $k: $v != ${b(k)}") }
  }

  test("stream dedup equals batch distinct on bounded input") {
    val stream = Events.streamDedup.fn(spark, sf)
    // The stream query restores the nanos-as-long flag on exit (ADVICE r6
    // #4), so this batch comparison read sets it for itself and cleans up.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    try {
      val batch = spark.read.parquet(s"$sf/events.parquet")
        .select("user_id", "event_type").distinct()
      assert(stream.exceptAll(batch).count() == 0L &&
        batch.exceptAll(stream).count() == 0L)
      assert(stream.count() == batch.count())
    } finally spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
  }

  test("incremental dedup keeps only batch content unseen in the corpus") {
    import spark.implicits._
    withTempDir("graft-incr") { dir =>
      // corpus (src1) holds "dup text"; batch (src0) has an in-batch double
      // of the new text plus one doc duplicating corpus content
      Seq(
        (0L, "brand new text", "src0"),
        (1L, "brand new text", "src0"),
        (2L, "dup text", "src0"),
        (3L, "dup text", "src1"),
        (4L, "other corpus text", "src1"))
        .toDF("doc_id", "text", "source")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val rows = Dedup.incremental.fn(spark, dir)
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      // only the new text survives, canonicalized to its minimum doc_id
      assert(rows.map(_._1) == Seq(0L))
    }
  }

  test("dedup drop metrics are pinned at sf0.001") {
    // The gate oracles mirror the candidate-generator caps, so a cap bug
    // (e.g. a band-key regression routing the whole corpus into one dropped
    // bucket) is invisible to the hash gate by construction. Pinning the
    // exact counts here makes such a regression fail loudly; the values are
    // deterministic because the generators and testdata are.
    val got = Dedup.dropMetrics(spark, sf).toMap
    val expected = Map(
      "simhash_dropped_buckets" -> 0L,
      "minhash_dropped_buckets" -> 0L,
      "ngram_dropped_postings" -> 45L,
      "embed_dropped_cells" -> 0L)
    assert(got.keySet == expected.keySet)
    got.foreach { case (k, v) => assert(v >= 0L, s"$k negative: $v") }
    assert(got == expected)
  }

  test("q_triangles counts (n_triangles, n_edges) exactly on hand-built graphs") {
    import spark.implicits._
    spark.sparkContext.setLogLevel("WARN")
    // brute force over the same co-purchase graph: parts sharing an order
    // are adjacent; every vertex triple with all three edges is a triangle
    def bruteForce(lines: Seq[(Long, Long)]): (Long, Long) = {
      val edges = lines.groupBy(_._1).values.flatMap { ls =>
        val ps = ls.map(_._2).distinct.sorted
        for (i <- ps.indices; j <- i + 1 until ps.size) yield (ps(i), ps(j))
      }.toSet
      val vs = edges.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
      val tris = for {
        (a, i) <- vs.zipWithIndex; b <- vs.drop(i + 1) if edges((a, b))
        c <- vs.dropWhile(_ <= b) if edges((a, c)) && edges((b, c))
      } yield 1L
      (tris.sum, edges.size.toLong)
    }
    val rnd = new scala.util.Random(7)
    val graphs = Seq(
      "K5" -> (1L to 5L).map(p => (1L, p)),
      "three overlapping baskets" -> Seq(
        1L -> Seq(1L, 2L, 3L, 4L, 2L), 2L -> Seq(3L, 4L, 5L, 6L), 3L -> Seq(1L, 5L, 7L, 3L)
      ).flatMap { case (o, ps) => ps.map(p => (o, p)) },
      "single-part orders" -> Seq((1L, 1L), (2L, 2L), (3L, 1L)),
      "random baskets" -> (1L to 40L).flatMap(o =>
        Seq.fill(1 + rnd.nextInt(5))((o, 1L + rnd.nextInt(30).toLong))))
    val want = graphs.map { case (g, lines) => g -> bruteForce(lines) }
    assert(want.take(3).map(_._2) == Seq((10L, 10L), (13L, 15L), (0L, 0L)))
    for (((g, lines), (_, expected)) <- graphs.zip(want)) withTempDir("graft-triangles") { dir =>
      lines.toDF("l_orderkey", "l_partkey").write.parquet(s"$dir/lineitem.parquet")
      val r = SparkEntry.queries("q_triangles")(spark, dir).collect()
      assert(r.length == 1, g)
      assert((r(0).getLong(0), r(0).getLong(1)) == expected, g)
    }
  }

  test("the graph rows refuse a partkey the 2^32 id packing cannot hold") {
    import spark.implicits._
    spark.sparkContext.setLogLevel("WARN")
    // Each bad partkey shares an order with good ones, so it would reach
    // the pair packing, where u·2³² + v decodes as a different edge.
    val cases = Seq("partkey 2^32 + 1" -> 4294967297L, "negative partkey" -> -3L)
    for ((name, bad) <- cases) withTempDir("graft-idpack") { dir =>
      Seq((1L, 1L), (1L, 2L), (1L, bad), (2L, 2L), (2L, 3L), (2L, bad))
        .toDF("l_orderkey", "l_partkey").write.parquet(s"$dir/lineitem.parquet")
      for (q <- Seq("q_triangles", "q_bfs_reach", "q_degree_hist")) {
        val e = intercept[Exception](SparkEntry.queries(q)(spark, dir).collect())
        val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage)
        assert(msgs.exists(m => m != null && m.contains("a vertex id must lie in [0, 2^32)")),
          s"$q, $name: $e")
      }
    }
  }

  test("connected components converge in O(log d) generations on a 200-node chain") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // Adversarial diameter: a path graph 0-1-2-...-199 (diameter 199).
    // Plain min-label propagation walks the min one hop per round (~100
    // two-propagate generations); pointer jumping doubles resolved label
    // chains each generation, so convergence must stay logarithmic.
    val n = 200
    val pairs = (0 until n - 1).map(i => (i.toLong, i.toLong + 1))
      .toDF("doc_a", "doc_b")
    val (labels, generations) = Dedup.ccFromPairs(spark, pairs)
    try {
      assert(labels.count() == n.toLong)
      assert(labels.filter(col("cluster_id") =!= 0L).count() == 0L,
        "every chain node must label to the component min (0)")
      assert(labels.filter(col("keep")).count() == 1L)
      // log2(199) ~ 7.6; the fused first round plus jump-doubling needs
      // ~9 generations. 15 is the regression ceiling — a propagate-only
      // implementation would need ~100 and fail loudly here.
      assert(generations <= 15, s"chain-200 took $generations generations (not logarithmic)")
      assert(generations >= 3, s"chain-200 in $generations generations is implausible")
    } finally labels.unpersist()
  }

  test("blocklist filter flags exactly the docs containing a listed token") {
    import org.apache.spark.sql.functions.col
    val out = Pipeline.blocklistFilter.fn(spark, sf).persist()
    try {
      // flag iff n_blocked > 0, and both classes are populated ("dup"
      // occurs in a small fraction of the corpus)
      assert(out.filter(col("keep") === (col("n_blocked") > 0)).count() == 0L)
      val dropped = out.filter(!col("keep")).count()
      assert(dropped > 0L && dropped < out.count(), s"degenerate split: $dropped dropped")
    } finally out.unpersist()
  }

  test("token-budget sample respects the budget per language and is deterministic") {
    import org.apache.spark.sql.functions.{col, max => smax, sum => ssum}
    val a = Pipeline.sampleTokenBudget.fn(spark, sf)
    val over = a.groupBy(col("lang"))
      .agg(smax(col("cum_tokens")).as("m"), ssum(col("n_tokens")).as("s"))
      .filter(col("m") > 1000L || col("s") =!= col("m"))
    assert(over.count() == 0L, "budget exceeded or running sum inconsistent")
    val b = Pipeline.sampleTokenBudget.fn(spark, sf)
    assert(a.exceptAll(b).count() == 0L && b.exceptAll(a).count() == 0L)
  }

  test("pii scrub counts and redacts exactly, and is identity on clean docs") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, expr}
    withTempDir("graft-pii") { dir =>
      Seq((0L, "hello customer alice more text"),
          (1L, "no match here"),
          (2L, "customer bob and customer carol"))
        .toDF("doc_id", "text")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val rows = Pipeline.piiScrub.fn(spark, dir)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(rows(0L) == ((1L, PolyHash.hash(UTF8String.fromString("hello <PII> more text")))))
      assert(rows(1L) == ((0L, PolyHash.hash(UTF8String.fromString("no match here")))))
      assert(rows(2L) == ((2L, PolyHash.hash(UTF8String.fromString("<PII> and <PII>")))))
      // corpus: both classes populated, and zero-hit docs keep their original
      // fingerprint (redaction is an identity there)
      val out = Pipeline.piiScrub.fn(spark, sf).persist()
      try {
        assert(out.filter(col("n_pii") > 0).count() > 0L)
        val clean = out.filter(col("n_pii") === 0L)
        val docs = spark.read.parquet(s"$sf/documents.parquet")
          .select(col("doc_id"), expr("poly_hash(text)").as("fp_orig"))
        assert(clean.join(docs, "doc_id")
          .filter(col("fp_redacted") =!= col("fp_orig")).count() == 0L)
      } finally out.unpersist()
    }
  }

  test("sequence packing assigns each doc to the pack where it starts") {
    import spark.implicits._
    withTempDir("graft-pack") { dir =>
      val docs = Seq(
        (0L, Seq.fill(300)("alpha").mkString(" "), "en"),
        (1L, Seq.fill(300)("beta").mkString(" "), "en"),
        (2L, Seq.fill(100)("gamma").mkString(" "), "en"),
        (3L, Seq.fill(700)("delta").mkString(" "), "de"))
      docs.toDF("doc_id", "text", "lang")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      // independent driver-side reference: concatenate per lang in
      // (poly-hash, doc_id) order, pack = starting-offset div 512
      val expected = docs
        .map { case (id, text, lang) =>
          (id, lang, text.split(" ").length.toLong,
            PolyHash.hash(UTF8String.fromString(text)))
        }
        .groupBy(_._2)
        .flatMap { case (_, ds) =>
          val ordered = ds.sortBy(d => (d._4, d._1))
          val offsets = ordered.scanLeft(0L)(_ + _._3)
          ordered.zip(offsets).map { case (d, off) => d._1 -> (off / 512L) }
        }
      val got = Pipeline.packSequences.fn(spark, dir)
        .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
      assert(got == expected.toMap, s"got $got, expected $expected")
      // every doc assigned exactly once at corpus scale, pack ids non-negative
      val out = Pipeline.packSequences.fn(spark, sf).persist()
      try {
        val total = spark.read.parquet(s"$sf/documents.parquet").count()
        assert(out.count() == total)
        assert(out.filter(org.apache.spark.sql.functions.col("pack_id") < 0).count() == 0L)
      } finally out.unpersist()
    }
  }

  test("dsir weight is the exact quantized target/raw unigram ratio sum") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    withTempDir("graft-dsir") { dir =>
      // counts: a -> raw 3 / tgt 2, b -> raw 3 / tgt 1
      // per-token: a -> 6666, b -> 3333
      Seq((0L, "a a b", "en"), (1L, "a b b", "de"))
        .toDF("doc_id", "text", "lang")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val rows = Pipeline.dsirWeight.fn(spark, dir)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(rows(0L) == ((3L, 6666L + 6666L + 3333L)))
      assert(rows(1L) == ((3L, 6666L + 3333L + 3333L)))
      // corpus invariants: every doc scored, 0 <= score <= 10000 * n_tokens
      val out = Pipeline.dsirWeight.fn(spark, sf).persist()
      try {
        assert(out.count() == spark.read.parquet(s"$sf/documents.parquet").count())
        assert(out.filter(col("dsir_10k") < 0 ||
          col("dsir_10k") > col("n_tokens") * 10000L).count() == 0L)
      } finally out.unpersist()
    }
  }

  test("dup-ngram mining counts document and occurrence frequency exactly") {
    import spark.implicits._
    withTempDir("graft-dupn") { dir =>
      // "a..h" occurs in doc0 (once), doc1 (once), doc3 (twice); every other
      // 8-gram lives in a single document and must be filtered (n_docs < 2)
      Seq((0L, "a b c d e f g h x"),
          (1L, "z a b c d e f g h"),
          (2L, "totally unrelated words only seven here"),
          (3L, "a b c d e f g h a b c d e f g h"))
        .toDF("doc_id", "text")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val got = Pipeline.dupNgrams.fn(spark, dir)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      assert(got.toSeq == Seq(("a b c d e f g h", 3L, 4L)), got.mkString(", "))
    }
  }

  test("edit-distance verify covers exactly the LSH pairs with exact bounds") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, levenshtein, lit}
    // unit anchor: the canonical kitten/sitting distance
    val ks = Seq(("kitten", "sitting")).toDF("a", "b")
      .select(levenshtein(col("a"), col("b"))).collect()(0).getInt(0)
    assert(ks == 3)
    val ev = Dedup.editVerify.fn(spark, sf).persist()
    try {
      // same pair set as the jaccard-verified LSH output, exact bounds, and
      // the corpus' exact-duplicate pairs must score ed=0 / sim=10000
      val lsh = Dedup.minhashLsh.fn(spark, sf).select(col("doc_a"), col("doc_b"))
      assert(ev.select(col("doc_a"), col("doc_b")).exceptAll(lsh).count() == 0L)
      assert(lsh.exceptAll(ev.select(col("doc_a"), col("doc_b"))).count() == 0L)
      assert(ev.filter(col("ed") < 0 || col("sim_10k") < 0 || col("sim_10k") > 10000 ||
        (col("ed") === 0L) =!= (col("sim_10k") === 10000L)).count() == 0L)
      assert(ev.filter(lit(true)).count() > 0L)
    } finally ev.unpersist()
  }

  test("bloom prefilter: zero false negatives vs the exact anti-join, low FP rate") {
    import org.apache.spark.sql.functions.col
    val pre = Dedup.bloomPrefilter(spark, sf).persist()
    try {
      // the exact anti-join defines ground truth: batch hashes absent from
      // the corpus (incremental emits one row per truly-new content_hash)
      val trulyNew = Dedup.incremental.fn(spark, sf)
        .select(col("content_hash")).persist()
      try {
        // no false negatives: every row the filter calls unseen IS new
        val fn = pre.filter(!col("maybe_seen"))
          .join(trulyNew, Seq("content_hash"), "left_anti").count()
        assert(fn == 0L, s"$fn corpus-present rows escaped the bloom filter")
        // false-positive rate among truly-new rows stays under the
        // configured capacity's bound (oversized here -> near zero)
        val newRows = pre.join(trulyNew, "content_hash").persist()
        try {
          val total = newRows.count()
          val fp = newRows.filter(col("maybe_seen")).count()
          assert(total > 0L)
          assert(fp.toDouble / total <= 0.05, s"FP rate $fp/$total")
        } finally newRows.unpersist()
      } finally trulyNew.unpersist()
    } finally pre.unpersist()
  }

  test("partitioned bloom family: per-bucket no-false-negatives, agrees with single sketch") {
    import org.apache.spark.sql.functions.col
    val pre = Dedup.bloomPrefilterPartitioned(spark, sf, buckets = 16).persist()
    try {
      val trulyNew = Dedup.incremental.fn(spark, sf)
        .select(col("content_hash")).persist()
      try {
        // the Bloom guarantee must survive partitioning: a key is probed
        // against exactly the sketch it was inserted into, so no
        // corpus-present row may read unseen
        val fn = pre.filter(!col("maybe_seen"))
          .join(trulyNew, Seq("content_hash"), "left_anti").count()
        assert(fn == 0L, s"$fn corpus-present rows escaped the partitioned family")
        val newRows = pre.join(trulyNew, "content_hash").persist()
        try {
          val total = newRows.count()
          val fp = newRows.filter(col("maybe_seen")).count()
          assert(total > 0L)
          assert(fp.toDouble / total <= 0.05, s"FP rate $fp/$total")
        } finally newRows.unpersist()
      } finally trulyNew.unpersist()
    } finally pre.unpersist()
  }

  test("dup spans merge consecutive duplicated 8-grams into maximal per-doc spans") {
    import spark.implicits._
    // Construct docs sharing a 9-word run (-> one 2-gram span), an 8-word
    // run at two separated places (-> two 1-gram islands in one doc), and
    // unique filler that must produce no spans.
    val docs = Seq(
      0L -> "a b c d e f g h i j",
      1L -> "x a b c d e f g h i y",
      2L -> "a b c d e f g h Z p q r s t u v w",
      3L -> "a b c d e f g h K K K p q r s t u v w",
      4L -> "only unique words live here nothing repeats at all")
    withTempDir("graft-spans") { dir =>
      docs.toDF("doc_id", "text").write.mode("overwrite").parquet(s"$dir/documents.parquet")
      // Independent brute force: mark gram positions occurring in >=2 docs,
      // merge consecutive runs.
      val grams = docs.map { case (id, text) =>
        val w = text.split(" ")
        id -> (1 to w.length - 7).map(i => i -> w.slice(i - 1, i + 7).mkString(" "))
      }.toMap
      val df = grams.values.flatten.map(_._2)
        .groupBy(identity).collect { case (g, os) if grams.count(_._2.exists(_._2 == g)) >= 2 => g }
        .toSet
      val expected = grams.flatMap { case (id, ps) =>
        val marked = ps.collect { case (pos, g) if df(g) => pos }.sorted
        val runs = marked.foldLeft(List.empty[(Int, Int)]) {
          case ((s, e) :: rest, p) if p == e + 1 => (s, p) :: rest
          case (acc, p)                          => (p, p) :: acc
        }
        runs.map { case (s, e) => (id, s.toLong, (e - s + 1).toLong, (e - s + 8).toLong) }
      }.toSet
      val got = Pipeline.dupSpans.fn(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(got == expected, s"only-got=${got -- expected}, only-expected=${expected -- got}")
      assert(expected.exists(_._3 >= 2L) && expected.count(_._1 == 2L) == 2,
        "fixture must exercise both a multi-gram span and split islands")
    }
  }

  test("connected components match a union-find reference on random graphs") {
    import spark.implicits._
    // Seeded random pair graphs across densities (sparse forest -> near
    // -connected): the DataFrame propagate+jump labels must equal exact
    // driver-side union-find on every graph shape in between.
    for ((nEdges, seed) <- Seq((30, 11L), (150, 12L), (400, 13L))) {
      val rng = new scala.util.Random(seed)
      val n = 200
      val pairs = Seq.fill(nEdges) {
        val a = rng.nextInt(n); var b = rng.nextInt(n)
        while (b == a) b = rng.nextInt(n)
        (math.min(a, b).toLong, math.max(a, b).toLong)
      }.distinct
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = { if (parent(x) != x) parent(x) = find(parent(x)); parent(x) }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = pairs.flatMap(p => Seq(p._1, p._2)).distinct
        .map(v => v -> find(v.toInt).toLong).toMap
      val (labels, generations) = Dedup.ccFromPairs(spark, pairs.toDF("doc_a", "doc_b"))
      try {
        val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got == expected, s"edges=$nEdges seed=$seed: labels diverge from union-find")
        assert(generations <= 15, s"edges=$nEdges took $generations generations")
      } finally labels.unpersist()
    }
  }

  test("reliable-checkpoint mode (graft.cc.checkpointDir) produces identical clusters") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    withTempDir("graft-cc-ck") { ckDir =>
      spark.conf.set("graft.cc.checkpointDir", ckDir)
      try {
        // two components: a 5-chain (min 0) and a triangle (min 10)
        val pairs = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L),
          (10L, 11L), (11L, 12L), (10L, 12L)).toDF("doc_a", "doc_b")
        val (labels, _) = Dedup.ccFromPairs(spark, pairs)
        val got = labels.collect()
          .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
        assert(got == Map(
          0L -> ((0L, true)), 1L -> ((0L, false)), 2L -> ((0L, false)),
          3L -> ((0L, false)), 4L -> ((0L, false)),
          10L -> ((10L, true)), 11L -> ((10L, false)), 12L -> ((10L, false))))
        // the reliable path actually wrote checkpoint data
        val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(ckDir))
          .filter(java.nio.file.Files.isRegularFile(_)).count()
        assert(wrote > 0, "reliable checkpoint directory is empty — local path was used")
        // Superseded generations' checkpoint dirs are deleted as the
        // iteration advances (ADVICE r7 #5): only the FINAL generation's
        // rdd-* dir may remain (edges + earlier generations are gone).
        import scala.jdk.CollectionConverters._
        val rddDirs = java.nio.file.Files.walk(java.nio.file.Paths.get(ckDir))
          .iterator().asScala
          .filter(p => java.nio.file.Files.isDirectory(p) &&
            p.getFileName.toString.startsWith("rdd-"))
          .toSeq
        assert(rddDirs.size == 1,
          s"expected exactly the final generation's checkpoint dir, got: $rddDirs")
        // ...and the returned frame stays RECOMPUTABLE through that final
        // checkpoint — the caveat reliable mode removes from the local path.
        labels.unpersist(blocking = true)
        val recomputed = labels.collect()
          .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
        assert(recomputed == got, "recompute after unpersist diverged")
      } finally spark.conf.unset("graft.cc.checkpointDir")
    }
  }

  test("compaction reduces the file count without losing rows") {
    spark.sparkContext.setLogLevel("WARN")
    val (small, compacted) = graft.sources.FileSources.compactionLayout(spark, sf)
    assert(small == 16, s"expected the fragmented state to be 16 files, got $small")
    assert(compacted <= 2, s"compaction left $compacted files")
    val n = graft.sources.FileSources.compactedDocuments(spark, sf).count()
    val exp = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(n == exp, s"compaction lost rows: $n != $exp")
  }

  test("snapshot diff statuses follow exactly from the version slices") {
    spark.sparkContext.setLogLevel("WARN")
    // v1 = doc_id % 7 <> 3; v2 = doc_id % 5 <> 4 (with % 11 == 0 edited).
    // Membership and the edit are pure modular arithmetic on doc_id, so
    // the expected per-doc status is computable without touching text —
    // an independent derivation the full-outer-join + fingerprint path
    // must reproduce (a hash collision between text and text||' rev2'
    // would surface here as a missing 'changed' row).
    val ids = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val expected = ids.flatMap { id =>
      val in1 = id % 7 != 3
      val in2 = id % 5 != 4
      if (!in1 && in2) Some(id -> "added")
      else if (in1 && !in2) Some(id -> "removed")
      else if (in1 && in2 && id % 11 == 0) Some(id -> "changed")
      else None
    }
    val got = SparkEntry.queries("q_snapshot_diff")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toSet
    assert(got == expected)
  }

  test("bpe pair counts match a plain-Scala recount of the corpus") {
    spark.sparkContext.setLogLevel("WARN")
    val texts = spark.read.parquet(s"$sf/documents.parquet")
      .select("text").collect().map(_.getString(0))
    val counts = scala.collection.mutable.Map.empty[String, Long]
    for (t <- texts; w <- t.split(" ", -1) if w.length >= 2; i <- 0 until w.length - 1)
      counts(w.substring(i, i + 2)) = counts.getOrElse(w.substring(i, i + 2), 0L) + 1L
    val expected = counts.toSeq.sortBy { case (p, n) => (-n, p) }.take(20)
    val got = SparkEntry.queries("q_bpe_pairs")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == expected)
  }

  test("curriculum bins quarter each language evenly and rank lengths densely") {
    spark.sparkContext.setLogLevel("WARN")
    val rows = SparkEntry.queries("q_curriculum_bins")(spark, sf)
      .collect()
      .map(r => (r.getString(1), r.getLong(0), r.getLong(2), r.getInt(3), r.getLong(4)))
    rows.groupBy(_._1).foreach { case (lang, rs) =>
      // ntile: tile sizes differ by at most 1 and bins are contiguous in
      // the (n_tok, doc_id) total order
      val sizes = rs.groupBy(_._4).view.mapValues(_.length).toMap
      assert(sizes.keySet == Set(1, 2, 3, 4), s"$lang: $sizes")
      assert(sizes.values.max - sizes.values.min <= 1, s"$lang: $sizes")
      val ordered = rs.sortBy(t => (t._3, t._2))
      assert(ordered.map(_._4).sliding(2).forall(p => p(0) <= p(1)),
        s"$lang: bin not monotone in length order")
      // dense_rank == index of n_tok among the language's distinct lengths
      val denseOf = rs.map(_._3).distinct.sorted.zipWithIndex
        .map { case (v, i) => v -> (i + 1L) }.toMap
      assert(rs.forall(t => t._5 == denseOf(t._3)), s"$lang: dense rank mismatch")
    }
  }

  test("embedding array/dimension stats match a driver-side recompute") {
    spark.sparkContext.setLogLevel("WARN")
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    def q6(x: Float): Long = math.floor(math.abs(x.toDouble) * 1000000).toLong
    // per-vector
    val expVec = vecs.map { case (id, e) =>
      (id, e.length, e.count(_.toDouble > 0).toLong,
        e.count(x => math.abs(x.toDouble) > 0.5).toLong, e.map(q6).sum)
    }.toSet
    val gotVec = SparkEntry.queries("q_array_ops")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(gotVec == expVec)
    // per-dimension stats quantize the RAW value (sign preserved) — the
    // centering pass needs signed sums, unlike the L1 fold above
    def q6s(x: Float): Long = math.floor(x.toDouble * 1000000).toLong
    val dims = vecs.head._2.indices
    val expDim = dims.map { d =>
      val xs = vecs.map(_._2(d)).map(q6s)
      (d + 1L, vecs.length.toLong, xs.sum, xs.min, xs.max)
    }.toSet
    val gotDim = SparkEntry.queries("q_dim_stats")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(gotDim == expDim)
  }

  test("UTF8_LCASE collation equates case variants that binary equality separates") {
    import spark.implicits._
    spark.sparkContext.setLogLevel("ERROR")
    val words = Seq("Tokenizer", "TOKENIZER", "tokenizer", "Sampler").toDF("w")
    val probe = Seq("tokenIZER").toDF("term")
    val hits = words
      .join(probe, org.apache.spark.sql.functions.expr(
        "collate(w, 'UTF8_LCASE') = collate(term, 'UTF8_LCASE')"))
      .count()
    assert(hits == 3, "all three case variants must match the probe term")
    val binary = words.join(probe,
      org.apache.spark.sql.functions.col("w") === org.apache.spark.sql.functions.col("term")).count()
    assert(binary == 0, "binary equality must match none (the collation is load-bearing)")
  }

  test("regression slope_ppm agrees with the closed-form double OLS to 1 ppm") {
    spark.sparkContext.setLogLevel("ERROR")
    val rows = SparkEntry.queries("q_regression")(spark, sf).collect()
    assert(rows.length == 3)
    rows.foreach { r =>
      val (n, sx, sy, sxx, sxy) = (r.getLong(1).toDouble, r.getLong(2).toDouble,
        r.getLong(3).toDouble, r.getLong(4).toDouble, r.getLong(5).toDouble)
      val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx) * 1e6
      // decimal div truncates toward zero; the double recompute must land
      // within one ppm of the exact integer quotient
      assert(math.abs(slope - r.getLong(6)) <= 1.0,
        s"group ${r.getString(0)}: decimal ${r.getLong(6)} vs double $slope")
    }
  }

  test("recursion past cteRecursionLevelLimit fails loudly, never truncates") {
    spark.sparkContext.setLogLevel("ERROR")
    val key = "spark.sql.cteRecursionLevelLimit"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "5")
    try {
      val e = intercept[Exception] {
        SparkEntry.queries("q_recursive_cte")(spark, sf).collect()
      }
      assert(e.getMessage.toLowerCase.contains("recursion"),
        s"expected a recursion-limit error, got: ${e.getMessage.take(200)}")
    } finally spark.conf.set(key, prev)
  }

  test("CSV parse modes agree on the malformed file: DROPMALFORMED keeps the good rows, FAILFAST throws") {
    spark.sparkContext.setLogLevel("ERROR")
    // materialize the corrupted file + the PERMISSIVE truth via the row
    val r = SparkEntry.queries("q_csv_malformed")(spark, sf).collect()(0)
    val (nGood, nCorrupt) = (r.getLong(0), r.getLong(1))
    assert(nCorrupt > 0, "the fixture must actually contain corrupt rows")
    val out = graft.sources.FileSources.cacheDir("csvbad", sf, "documents.parquet")
    // count()/count(*) prunes every column and the CSV parser only flags
    // corruption for columns it parses (the row's own lesson) — aggregate
    // doc_id so all three modes actually parse the broken field
    val dropped = spark.read.schema("doc_id LONG, n_chars LONG")
      .option("mode", "DROPMALFORMED").csv(out)
      .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.col("doc_id")).as("n"),
        org.apache.spark.sql.functions.sum(
          org.apache.spark.sql.functions.col("doc_id")).as("s"))
      .collect()(0)
    assert(dropped.getLong(0) == nGood,
      s"DROPMALFORMED kept ${dropped.getLong(0)} rows, PERMISSIVE counted $nGood good")
    assert(dropped.getLong(1) == r.getLong(2),
      "DROPMALFORMED and PERMISSIVE must agree on WHICH rows are good (id sums differ)")
    val e = intercept[Exception] {
      spark.read.schema("doc_id LONG, n_chars LONG")
        .option("mode", "FAILFAST").csv(out)
        .agg(org.apache.spark.sql.functions.sum(
          org.apache.spark.sql.functions.col("doc_id"))).collect()
    }
    // the parse error arrives wrapped ([FAILED_READ_FILE] -> cause) —
    // walk the chain for the malformed-record class
    val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(x => String.valueOf(x.getMessage).toLowerCase).mkString(" | ")
    assert(msgs.contains("malformed"),
      s"FAILFAST must refuse with a malformed-record error, got: ${msgs.take(300)}")
  }

  test("q_user_journey enforces the per-user history cap on an over-budget user") {
    // VERDICT r12 #2: the cap must be ENFORCED, not narrated. One user with
    // JourneyCap + 25 events must come back truncated to exactly JourneyCap
    // path elements (the FIRST cap under the (tus, event_id) order), with
    // the full n_events count and overflowed=true; a small user is
    // untouched with overflowed=false.
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val cap = Events.JourneyCap
    val big = (0 until cap + 25).map(i => (100L + i, i * 1000L, 1L, s"t$i"))
    val small = Seq((900L, 0L, 2L, "a"), (901L, 1000L, 2L, "b"), (902L, 2000L, 2L, "c"))
    withTempDir("graft-journey-cap") { d =>
      (big ++ small).toDF("event_id", "us", "user_id", "event_type")
        .selectExpr("event_id", "timestamp_micros(us) AS ts", "user_id", "event_type")
        .write.mode("overwrite").parquet(s"$d/events.parquet")
      val rows = SparkEntry.queries("q_user_journey")(spark, d)
        .collect().map(r => r.getLong(r.fieldIndex("user_id")) ->
          ((r.getLong(r.fieldIndex("n_events")),
            r.getString(r.fieldIndex("path")),
            r.getBoolean(r.fieldIndex("overflowed"))))).toMap
      val (bigN, bigPath, bigOver) = rows(1L)
      assert(bigN == cap + 25, "n_events must report the FULL count, not the cap")
      assert(bigOver, "over-budget user must be flagged")
      assert(bigPath == (0 until cap).map(i => s"t$i").mkString(">"),
        "path must be the FIRST cap events under the total order")
      assert(rows(2L) == ((3L, "a>b>c", false)), "small user must be untouched")
    }
  }

  test("q_shard_balance partitions the corpus into near-equal token shards") {
    spark.sparkContext.setLogLevel("WARN")
    val rows = SparkEntry.queries("q_shard_balance")(spark, sf)
      .collect().map(r => (r.getInt(r.fieldIndex("shard")),
        r.getLong(r.fieldIndex("n_docs")), r.getLong(r.fieldIndex("tokens")),
        r.getLong(r.fieldIndex("spread_bp"))))
    val nDocs = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(rows.map(_._1).sorted.toSeq == (0 until 8), "one row per shard")
    assert(rows.map(_._2).sum == nDocs, "shards must partition the corpus")
    // striping a size-sorted order: every shard gets floor/ceil(n/8) docs
    assert(rows.map(_._2).max - rows.map(_._2).min <= 1, rows.mkString(","))
    // the balance claim itself: spread within 10% of the smallest shard
    // (sf0.001 = 500 docs, ~62/shard; striping keeps this far tighter
    // than random assignment)
    assert(rows.head._4 == (rows.map(_._3).max - rows.map(_._3).min) * 10000 /
      rows.map(_._3).min, "spread_bp must restate the shard totals")
    assert(rows.head._4 < 1000, s"token spread too wide: ${rows.head._4} bp")
  }

  test("q_epoch_shuffle: same multiset per epoch, different permutations") {
    spark.sparkContext.setLogLevel("WARN")
    val rows = SparkEntry.queries("q_epoch_shuffle")(spark, sf)
      .collect().map(r => (r.getInt(r.fieldIndex("epoch")),
        r.getInt(r.fieldIndex("batch")), r.getLong(r.fieldIndex("n_docs")),
        r.getLong(r.fieldIndex("tokens")), r.getLong(r.fieldIndex("perm_sum"))))
    val byEpoch = rows.groupBy(_._1)
    assert(byEpoch.keySet == Set(1, 2))
    // each epoch covers the whole corpus with the same token total...
    assert(byEpoch(1).map(_._3).sum == byEpoch(2).map(_._3).sum)
    assert(byEpoch(1).map(_._4).sum == byEpoch(2).map(_._4).sum)
    // ...every batch except the tail ragged one is exactly EpochBatch...
    for ((e, rs) <- byEpoch) {
      val full = rs.sortBy(_._2).init
      assert(full.forall(_._3 == 256L), s"epoch $e has a short non-tail batch")
    }
    // ...and the position-weighted checksums prove the ORDERS differ
    val sums1 = byEpoch(1).sortBy(_._2).map(_._5).toSeq
    val sums2 = byEpoch(2).sortBy(_._2).map(_._5).toSeq
    assert(sums1 != sums2, "two epochs produced the identical permutation")
  }

  test("q_rag_retrieve: budget respected, ranks contiguous, context deduplicated") {
    spark.sparkContext.setLogLevel("WARN")
    val rows = SparkEntry.queries("q_rag_retrieve")(spark, sf)
      .collect().map(r => (r.getLong(r.fieldIndex("query_id")),
        r.getInt(r.fieldIndex("rank")), r.getLong(r.fieldIndex("doc_id")),
        r.getLong(r.fieldIndex("cum_tok"))))
    assert(rows.nonEmpty)
    assert(rows.forall(_._4 <= 512L), "context budget exceeded")
    for ((q, rs) <- rows.groupBy(_._1)) {
      assert(rs.map(_._2).sorted.toSeq == (1 to rs.length),
        s"query $q ranks not contiguous: ${rs.sortBy(_._2).mkString(",")}")
      // no query retrieves itself, and no two context docs share a text
      assert(!rs.exists(_._3 == q), s"query $q retrieved itself")
      val texts = spark.read.parquet(s"$sf/documents.parquet")
        .filter(org.apache.spark.sql.functions.col("doc_id")
          .isin(rs.map(_._3).toSeq: _*))
        .collect().map(_.getString(1))
      assert(texts.distinct.length == texts.length,
        s"query $q context contains duplicate documents")
    }
  }
}
