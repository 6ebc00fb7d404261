package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.JsonDocs
import graft.operators.RawMerge

/** Property-based tests (SURVEY.md §5.2 item 3) over scalacheck-generated
  * adversarial documents (FIXTURES.md §2.3): random nesting with system
  * fields at arbitrary depth (incl. inside arrays — the B2 bug class),
  * missing/empty ids, invalid pks, unicode values.
  *
  * Generation is seeded so runs are reproducible; each property evaluates
  * one Spark job over the whole generated corpus (per-sample jobs would be
  * prohibitively slow).
  */
class PropertySpec extends AnyFunSuite {
  lazy val spark = graft.core.Sessions.local(4, "property-spec")

  // ---- JSON document generator ----

  private val scalarGen: Gen[String] = Gen.oneOf(
    Gen.alphaNumStr.map(s => "\"" + s.take(8) + "\""),
    Gen.choose(-1000, 1000).map(_.toString),
    Gen.const("null"),
    Gen.const("\"uniçode-Ж\""))

  private def fieldName: Gen[String] = Gen.oneOf(
    "a", "b", "c", "payload", "Email", "note", "_etag", "_rid", "_self", "_ts")

  private def valueGen(depth: Int): Gen[String] =
    if (depth <= 0) scalarGen
    else Gen.frequency(
      4 -> scalarGen,
      2 -> Gen.listOfN(2, valueGen(depth - 1)).map(_.mkString("[", ",", "]")),
      3 -> objGen(depth - 1))

  private def objGen(depth: Int): Gen[String] = for {
    n <- Gen.choose(1, 4)
    names <- Gen.listOfN(n, fieldName)
    vals <- Gen.listOfN(n, valueGen(depth))
  } yield names.distinct.zip(vals)
    .map { case (k, v) => "\"" + k + "\": " + v }.mkString("{", ",", "}")

  private val docGen: Gen[String] = for {
    idPart <- Gen.oneOf(
      Gen.choose(0, 10000).map(i => Some(s""""id": "doc-$i"""")),
      Gen.const(Some("\"id\": null")),
      Gen.const(Some("\"id\": \"\"")),
      Gen.const(None)).flatMap(identity(_))
    pk <- Gen.oneOf(s""""pk": "p1"""", s""""pk": "p2"""", s""""pk": null""", s""""pk": """"")
    body <- objGen(3)
  } yield "{" + (idPart.toSeq :+ pk :+ ("\"payload\": " + body)).mkString(",") + "}"

  private def sample(n: Int, seed: Long): Seq[String] =
    (0 until n).flatMap(i =>
      docGen.apply(Gen.Parameters.default, Seed(seed + i)))

  private def lines(jsons: Seq[String]) =
    spark.createDataset(jsons)(org.apache.spark.sql.Encoders.STRING).toDF("raw")

  test("canonicalizer: no system field survives at any depth; idempotent") {
    graft.functions.GraftFunctions.register(spark)
    val jsons = sample(60, 42L)
    assert(jsons.exists(j => JsonDocs.SystemFields.exists(f => j.contains("\"" + f + "\""))))
    val canon = lines(jsons)
      .selectExpr("canonical_json(raw) AS c", "canonical_json(canonical_json(raw)) AS c2")
      .collect().map(r => (r.getString(0), r.getString(1)))
    // no system-field name as an object key anywhere in the canonical form
    def names(n: JsonNode): Seq[String] =
      if (n.isObject) n.fieldNames().asScala.toSeq.flatMap(f => f +: names(n.get(f)))
      else n.elements().asScala.toSeq.flatMap(names)
    val mapper = new ObjectMapper()
    val leaked = canon.toSeq.flatMap { case (c, _) => names(mapper.readTree(c)) }
      .filter(JsonDocs.SystemFields)
    assert(leaked.isEmpty, s"system fields survived: ${leaked.distinct}")
    // idempotence over the whole corpus
    assert(canon.forall { case (c, c2) => c != null && c == c2 })
  }

  test("word_shingles == naive Scala reference on adversarial strings") {
    graft.functions.GraftFunctions.register(spark)
    // adversarial: empty, multi-space runs, leading/trailing spaces, unicode,
    // mixed case, single-word, exactly-n-word docs
    val textGen: Gen[String] = Gen.oneOf(
      Gen.const(""), Gen.const(" "), Gen.const("  a  b "),
      Gen.const("uniÇode Ж ж UNIÇODE"),
      Gen.listOf(Gen.oneOf("The", "cat", "CAT", "", "saT", "on", "мат"))
        .map(_.mkString(" ")))
    val texts = (0 until 200).flatMap(i =>
      textGen.apply(Gen.Parameters.default, Seed(1234L + i)))
    def naive(t: String, n: Int): Seq[String] = {
      val w = t.toLowerCase.split(" ", -1).toSeq
      if (w.length < n) Seq.empty
      else w.sliding(n).map(_.mkString(" ")).toSeq.distinct
    }
    val df = spark.createDataset(texts)(org.apache.spark.sql.Encoders.STRING)
      .toDF("t")
    for (n <- Seq(1, 2, 3)) {
      val got = df.selectExpr("t", s"word_shingles(t, $n) AS g")
        .collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
      texts.distinct.foreach { t =>
        assert(got(t) == naive(t, n), s"n=$n text='$t'")
      }
    }
  }

  test("merge classification partitions the source: sum of branches == |src|") {
    val jsons = sample(80, 7L)
    // target: a mutated subset (drop a third, null the payload of another
    // third), merged as raw lines like the source — no schema inference
    val tgtJsons = jsons.zipWithIndex.collect {
      case (j, i) if i % 3 != 0 =>
        if (i % 3 == 1) j.replaceFirst("\"payload\": \\{.*\\}$", "\"payload\": null}") else j
    }
    val counts = RawMerge.classify(spark, lines(jsons), lines(tgtJsons), Seq("/pk"))
      .groupBy("action").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.values.sum == jsons.size,
      s"classification must partition the source exactly once: $counts vs ${jsons.size}")
    assert(Set("error", "insert", "skip", "update").intersect(counts.keySet).nonEmpty)
  }

  test("merged state is idempotent for generated corpora (re-merge == no-op)") {
    val src = lines(sample(50, 99L))
    val after = RawMerge.mergedState(spark, src, src.limit(0), Seq("/pk"))
    val counts = RawMerge.classify(spark, src, after, Seq("/pk"))
      .groupBy("action").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.getOrElse("insert", 0L) == 0L && counts.getOrElse("update", 0L) == 0L,
      s"second run must write nothing: $counts")
  }

  test("SparkLower mirrors the engine's lower() byte-exactly on adversarial and random strings") {
    import spark.implicits._
    // the unicode corners where lowering implementations diverge: Turkish
    // I/İ, Greek final sigma (context-sensitive), German ß, titlecase ǅ,
    // supplementary-plane Deseret 𐐨, combining marks, and the full-ASCII
    // fast path SparkLower must also reproduce
    val adversarial = Seq(
      "I AM ASCII", "İstanbul", "ΣΙΣΥΦΟΣ", "STRASSE ß", "ǅungla",
      "𐐀ESERET", "ÁCCENT", "mixed İI ı Σς", "")
    val rnd = new scala.util.Random(42)
    val random = Seq.fill(500)(new String(Array.fill(rnd.nextInt(12) + 1)(
      rnd.nextInt(0x2FF).toChar)))
    val rows = (adversarial ++ random).toDF("v")
      .selectExpr("v", "lower(v) AS engine").collect()
    rows.foreach { r =>
      val (v, engine) = (r.getString(0), r.getString(1))
      assert(graft.functions.SparkLower(v) == engine,
        s"SparkLower diverges from lower() on ${v.map(c => f"\\u${c.toInt}%04x").mkString}")
    }
  }

  test("contentToken: stable across copies, sensitive to head/tail/length edits") {
    // the corpus_files.tsv guard's change detector (ADVICE r11): it must
    // be a pure function of (length, first 4 KiB, last 4 KiB) — identical
    // for byte-identical copies regardless of path/mtime, different for
    // any edit inside its windows or any resize
    val st = graft.core.Storage.hadoop
    val dir = java.nio.file.Files.createTempDirectory("graft-token")
    def write(name: String, bytes: Array[Byte]): String = {
      val p = dir.resolve(name)
      java.nio.file.Files.write(p, bytes)
      p.toString
    }
    val rnd = new scala.util.Random(7)
    for (size <- Seq(0, 1, 100, 4096, 4097, 8192, 20000)) {
      val base = Array.fill(size)(rnd.nextInt().toByte)
      val t0 = st.contentToken(write(s"a-$size", base))
      assert(t0.matches("t[0-9a-f]+"), s"token format: $t0")
      // copy at another path and mtime: same token
      val copyPath = write(s"b-$size", base)
      java.nio.file.Files.setLastModifiedTime(java.nio.file.Paths.get(copyPath),
        java.nio.file.attribute.FileTime.fromMillis(12345678L))
      assert(st.contentToken(copyPath) == t0, s"copy must share the token (size $size)")
      if (size > 0) {
        // head edit
        val h = base.clone(); h(0) = (h(0) ^ 0x11).toByte
        assert(st.contentToken(write(s"h-$size", h)) != t0, s"head edit undetected (size $size)")
        // tail edit
        val t = base.clone(); t(size - 1) = (t(size - 1) ^ 0x11).toByte
        assert(st.contentToken(write(s"t-$size", t)) != t0, s"tail edit undetected (size $size)")
      }
      // pure resize with identical head+tail windows: length is folded in
      if (size > 8192) {
        val grown = base.take(4096) ++ Array.fill(size - 8192 + 64)(0.toByte) ++
          base.takeRight(4096)
        assert(st.contentToken(write(s"g-$size", grown)) != t0,
          s"window-preserving resize undetected (size $size)")
      }
    }
  }

  test("Y4M lane (q_mm23): seek-sampled frames equal the full decode's selection; malformed containers drop, never throw") {
    import graft.operators.Multimodal
    val sf = "/root/testdata/sf0.001"
    // the O(1)-seek sampler must agree exactly with sequential full decode
    // restricted to the same stride — the two paths share only the header
    // parse, so an offset-arithmetic defect breaks this, not the oracle
    val sampled = Multimodal
      .sampleY4mFrames(Multimodal.y4mAssets(spark, sf), 2)
      .collect().map(_.toString).toSet
    val full = Multimodal
      .frameFeatures(Multimodal.y4mAssets(spark, sf),
        Multimodal.Y4mFrameDecoder)
      .where(col("frame_idx") % 2 === 0)
      .collect().map(_.toString).toSet
    assert(sampled == full, "seek sampling must equal filtered full decode")
    assert(sampled.nonEmpty)
    // corrupt-input contract, never a throw: the FULL decode is
    // all-or-nothing (any defect → zero rows); the seek sampler gates on
    // the header (bad magic → clip dropped) and skips individually
    // corrupt sampled frames while still serving intact ones — the
    // behavior a production sampler wants on a partially-damaged clip
    import spark.implicits._
    val good = Multimodal.y4mAssets(spark, sf)
      .where(col("asset_id") === 0L)
      .collect()(0).getAs[Array[Byte]]("bytes")
    val badMagic = "JUNKMPEG2 W8 H8 Cmono\n".getBytes("US-ASCII")
    val truncated = good.take(good.length - 3) // frame 3 loses its tail
    val badMarker = good.clone() // frame 0's FRAME marker overwritten
    badMarker(good.indexOf('\n'.toByte) + 1) = 'X'.toByte
    // malformed NUMERIC token (ADVICE r16): good magic, junk W value —
    // pre-fix this threw NumberFormatException out of the UNGUARDED
    // header call in sampleY4mFrames and failed the whole job
    val badNumber = "YUV4MPEG2 Wx H8 Cmono\nFRAME\n".getBytes("US-ASCII")
    val junk = Seq((1L, "video", badMagic), (2L, "video", truncated),
      (3L, "video", badMarker), (4L, "video", badNumber))
      .toDF("asset_id", "kind", "bytes")
    assert(Multimodal.frameFeatures(junk, Multimodal.Y4mFrameDecoder).isEmpty,
      "malformed containers must full-decode to zero rows")
    val partial = Multimodal.sampleY4mFrames(junk, 2)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(partial == Set((2L, 0), (2L, 2), (3L, 2)),
      s"the sampler must gate on the header and skip only corrupt " +
        s"sampled frames: $partial")
  }

  test("MP4 lane (q_mm24): the box walk reads back exactly what the muxer " +
    "wrote; malformed containers drop; absent stss means all-sync") {
    import graft.operators.Multimodal
    val sf = "/root/testdata/sf0.001"
    val parsed = Multimodal.qMm24(spark, sf).collect()
    assert(parsed.length == 200, s"one row per asset: ${parsed.length}")
    parsed.foreach { r =>
      val id = r.getLong(0)
      assert(r.getLong(1) == Multimodal.mp4DurationMs(id) &&
        r.getLong(2) == Multimodal.mp4Width(id).toLong &&
        r.getLong(3) == Multimodal.mp4Height(id).toLong &&
        r.getString(4) == Multimodal.mp4Codec(id) &&
        r.getLong(5) == Multimodal.mp4SampleCount(id).toLong &&
        r.getLong(6) == (Multimodal.mp4SampleCount(id) +
          Multimodal.Mp4KeyInterval - 1) / Multimodal.Mp4KeyInterval,
        s"box walk must round-trip the muxed facts: $r")
    }
    // corrupt-input contract: drop, never throw
    import spark.implicits._
    val good = Multimodal.mp4Assets(spark, sf)
      .where(col("asset_id") === 0L)
      .collect()(0).getAs[Array[Byte]]("bytes")
    def be32(b: Array[Byte], o: Int): Int =
      ((b(o) & 0xff) << 24) | ((b(o + 1) & 0xff) << 16) |
        ((b(o + 2) & 0xff) << 8) | (b(o + 3) & 0xff)
    val truncated = good.take(good.length - 40) // moov overruns the file
    val badSize = good.clone() // ftyp size 5 < 8: malformed header
    badSize(0) = 0; badSize(1) = 0; badSize(2) = 0; badSize(3) = 5
    val ftypLen = be32(good, 0)
    val noMoov = good.take(ftypLen + be32(good, ftypLen)) // ftyp+mdat only
    val junk = Seq((1L, "video", truncated), (2L, "video", badSize),
      (3L, "video", noMoov)).toDF("asset_id", "kind", "bytes")
    assert(Multimodal.mp4Meta(junk).isEmpty,
      "malformed containers must drop, never throw")
    // ISO default: NO stss box = every sample is a sync sample. Rename
    // the stss fourcc to 'free' (a real padding type) — sizes and
    // structure stay valid, the parser just never sees a sync table
    val freed = good.clone()
    val stssAt = good.indexOfSlice("stss".getBytes("US-ASCII"))
    assert(stssAt > 0)
    "free".getBytes("US-ASCII").zipWithIndex
      .foreach { case (b, k) => freed(stssAt + k) = b }
    val allSync = Multimodal.mp4Meta(
      Seq((9L, "video", freed)).toDF("asset_id", "kind", "bytes")).collect()
    assert(allSync.length == 1 &&
      allSync(0).getLong(6) == allSync(0).getLong(5),
      s"absent stss must report every sample as sync: ${allSync.toSeq}")
    // keyframe map (q_mm25): the sync-sample byte ranges must be the mdat
    // running sum ACROSS BOTH chunks (the stsc mapping is live), and a
    // clip without chunk bases (stco renamed away) drops entirely
    val kf = Multimodal.Mp4BoxReader.keyframeMap(good).get
    val n0 = Multimodal.mp4SampleCount(0L)
    assert(kf.map(_.sampleNo) == (1 to n0 by 6).map(_.toLong),
      s"sync samples every 6th from 1: ${kf.map(_.sampleNo)}")
    val sizes0 = Array.tabulate(n0)(s => 100L + (s % 7))
    val offs = sizes0.scanLeft(32L)(_ + _)
    assert(kf.forall(k => k.offset == offs(k.sampleNo.toInt - 1) &&
      k.size == sizes0(k.sampleNo.toInt - 1)),
      s"offsets must be the mdat running sum across both chunks: $kf")
    val noStco = good.clone()
    val stcoAt = good.indexOfSlice("stco".getBytes("US-ASCII"))
    assert(stcoAt > 0)
    "free".getBytes("US-ASCII").zipWithIndex
      .foreach { case (b, k) => noStco(stcoAt + k) = b }
    assert(Multimodal.Mp4BoxReader.keyframeMap(noStco).isEmpty,
      "a clip without chunk bases must drop from the keyframe map")
  }

  test("container walkers survive adversarial inputs (review r17): huge " +
    "uniform stsz count and pathological nesting drop, never throw") {
    import graft.operators.Multimodal
    val sf = "/root/testdata/sf0.001"
    val good = Multimodal.mp4Assets(spark, sf)
      .where(col("asset_id") === 0L)
      .collect()(0).getAs[Array[Byte]]("bytes")
    // uniform-size stsz with sample_count 0x7FFFFFFF: pre-fix this
    // demanded a ~16 GB Array.fill (OutOfMemoryError escapes the catch);
    // the count is bounded by the clip's byte length now
    val hugeStsz = good.clone()
    val stszAt = good.indexOfSlice("stsz".getBytes("US-ASCII"))
    assert(stszAt > 0)
    // payload starts at fourcc+4: v/f, then uniform size, then count
    hugeStsz(stszAt + 8) = 0; hugeStsz(stszAt + 9) = 0
    hugeStsz(stszAt + 10) = 0; hugeStsz(stszAt + 11) = 100 // uniform size
    hugeStsz(stszAt + 12) = 0x7F.toByte
    hugeStsz(stszAt + 13) = 0xFF.toByte
    hugeStsz(stszAt + 14) = 0xFF.toByte
    hugeStsz(stszAt + 15) = 0xFF.toByte // sample_count
    assert(Multimodal.Mp4BoxReader.keyframeMap(hugeStsz).isEmpty,
      "an impossible uniform sample count must drop the clip")
    // 1000 nested container headers (both formats): the depth bound
    // flags malformation instead of recursing once per level
    var mp4Nest = Array.emptyByteArray
    for (_ <- 1 to 1000) {
      val bb = java.nio.ByteBuffer.allocate(8 + mp4Nest.length)
      bb.putInt(8 + mp4Nest.length)
      bb.put("moov".getBytes("US-ASCII")); bb.put(mp4Nest)
      mp4Nest = bb.array()
    }
    assert(Multimodal.Mp4BoxReader.parse(mp4Nest).isEmpty &&
      Multimodal.Mp4BoxReader.keyframeMap(mp4Nest).isEmpty,
      "deep MP4 nesting must drop, never overflow the stack")
    var ebmlNest = Array.emptyByteArray
    for (_ <- 1 to 1000) {
      val sz = ebmlNest.length
      val szB =
        if (sz < 127) Array((0x80 | sz).toByte)
        else Array((0x40 | (sz >> 8)).toByte, (sz & 0xff).toByte)
      ebmlNest = Array(0xAE.toByte) ++ szB ++ ebmlNest
    }
    assert(Multimodal.EbmlReader.parse(ebmlNest).isEmpty,
      "deep EBML nesting must drop, never overflow the stack")
  }

  test("MKV lane (q_mm26): the EBML walk reads back exactly what the " +
    "muxer wrote through an unknown-size Segment; malformed files drop") {
    import graft.operators.Multimodal
    val sf = "/root/testdata/sf0.001"
    val parsed = Multimodal.qMm26(spark, sf).collect()
    assert(parsed.length == 200, s"one row per asset: ${parsed.length}")
    parsed.foreach { r =>
      val id = r.getLong(0)
      assert(r.getLong(1) == Multimodal.mkvDurationMs(id) &&
        r.getLong(2) == Multimodal.mkvWidth(id).toLong &&
        r.getLong(3) == Multimodal.mkvHeight(id).toLong &&
        r.getString(4) == Multimodal.mkvCodec(id),
        s"EBML walk must round-trip the muxed facts: $r")
    }
    // corrupt-input contract: drop, never throw
    import spark.implicits._
    val good = Multimodal.mkvAssets(spark, sf)
      .where(col("asset_id") === 0L)
      .collect()(0).getAs[Array[Byte]]("bytes")
    // cut inside the Cluster's SimpleBlock payload: the declared element
    // size now overruns the file, which the walk must flag
    val truncated = good.take(good.length - 20)
    val zeroVint = good.clone() // a zero first VINT byte is invalid EBML
    zeroVint(0) = 0
    // rename the Tracks container id away (keep byte 0x16->0xEC Void-ish
    // 4-byte id): codec/dims never found -> drop
    val noTracks = good.clone()
    val tracksAt = {
      var i = -1
      var k = 0
      while (i < 0 && k < good.length - 3) {
        if ((good(k) & 0xff) == 0x16 && (good(k + 1) & 0xff) == 0x54 &&
          (good(k + 2) & 0xff) == 0xAE && (good(k + 3) & 0xff) == 0x6B) i = k
        k += 1
      }
      i
    }
    assert(tracksAt > 0)
    noTracks(tracksAt) = 0x1A.toByte // still a valid 4-byte id, unknown kind
    val junk = Seq((1L, "video", truncated), (2L, "video", zeroVint),
      (3L, "video", noTracks)).toDF("asset_id", "kind", "bytes")
    assert(Multimodal.mkvMeta(junk).isEmpty,
      "malformed MKV files must drop, never throw")
  }

  test("MKV keyframe map (q_mm27): block-header keyframes match the muxed " +
    "closed forms; a lying Cues index or lacing drops; absent Cues is fine") {
    import graft.operators.Multimodal
    val sf = "/root/testdata/sf0.001"
    val rows = Multimodal.qMm27(spark, sf).collect()
    // independent replay of the muxer's offset algebra per asset — the
    // same arithmetic the DuckDB oracle runs (frame_offset = 87 + clen +
    // 6b + 10*(b//4) + prefix-sum of sizes)
    var expected = 0
    for (id <- 0L until Multimodal.AssetDocBound) {
      val clen = Multimodal.mkvCodec(id).length
      var psz = 0L
      for (b <- 0 until Multimodal.mkvBlockCount(id)) {
        val sz = Multimodal.mkvBlockSize(id, b)
        if (Multimodal.mkvIsKey(id, b)) expected += 1
        if (Multimodal.mkvIsKey(id, b)) {
          val r = rows(expected - 1)
          assert(r.getLong(0) == id && r.getLong(1) == b + 1 &&
            r.getLong(2) == b * Multimodal.MkvBlockDeltaMs &&
            r.getLong(3) == 87L + clen + 6L * b + 10L * (b / 4) + psz &&
            r.getLong(4) == sz.toLong,
            s"keyframe row must replay the muxed algebra: $r (id=$id b=$b)")
        }
        psz += sz
      }
    }
    assert(rows.length == expected, s"${rows.length} vs $expected keyframes")
    import spark.implicits._
    val good = Multimodal.mkvAssets(spark, sf)
      .where(col("asset_id") === 0L)
      .collect()(0).getAs[Array[Byte]]("bytes")
    // first SimpleBlock's flags byte: header 16 + segment id/size 12 +
    // info 23 + tracks 20+15 + cluster hdr 6 + Timestamp el 4 +
    // SimpleBlock id/size 2 + track VINT 1 + int16 rel ts 2 = abs 101
    val laced = good.clone()
    assert((laced(101) & 0xff) == 0x80, "fixture drift: expected key flags")
    laced(101) = (laced(101) | 0x06).toByte // EBML lacing: declared out of scope
    // a Cues index that disagrees with the walked clusters is malformation
    val cuesAt = good.indexOfSlice(
      Seq(0x1C, 0x53, 0xBB, 0x6B).map(_.toByte))
    assert(cuesAt > 0)
    val lyingCue = good.clone()
    // first CuePoint: id/size 2 + CueTime el 4 + CueTrackPositions id/size
    // 2 + CueTrack el 3 + CueClusterPosition id/size 2 + pos hi byte 1 →
    // pos lo byte at cues payload start (cuesAt+5) + 14
    lyingCue(cuesAt + 5 + 14) = (lyingCue(cuesAt + 5 + 14) + 1).toByte
    val truncated = good.take(good.length - 10) // cut inside the Cues
    // single-track SimpleBlock scope (review r18): a BlockGroup element
    // or a second track number must DROP — a fetch plan with silently
    // missing or foreign-track keyframes is worse than no plan
    assert((good(96) & 0xff) == 0xA3 && (good(98) & 0xff) == 0x81,
      "fixture drift: first SimpleBlock id/track bytes moved")
    val blockGroup = good.clone(); blockGroup(96) = 0xA0.toByte
    val foreignTrack = good.clone(); foreignTrack(98) = 0x82.toByte
    val junk = Seq((1L, "video", laced), (2L, "video", lyingCue),
      (3L, "video", truncated), (4L, "video", blockGroup),
      (5L, "video", foreignTrack)).toDF("asset_id", "kind", "bytes")
    assert(Multimodal.mkvKeyframeMap(junk).isEmpty,
      "lacing, a lying seek index, truncation, a BlockGroup, and a " +
        "second track must all drop")
    // Cues are OPTIONAL: rename the id away (still a valid unknown
    // 4-byte id) and the block-header walk alone must yield the same map
    val noCues = good.clone()
    noCues(cuesAt) = 0x1A.toByte
    val fromBlocks = Multimodal.EbmlReader.keyframeMap(noCues).get
    assert(fromBlocks == Multimodal.EbmlReader.keyframeMap(good).get &&
      fromBlocks.nonEmpty,
      "absent Cues must fall back to the block headers alone")
  }

  test("WARC lane (q_mm29/q_mm30): the record walk and HTTP parse read " +
    "back the muxed closed forms; truncation, a bad version line, a " +
    "non-numeric or lying Content-Length all drop") {
    import graft.operators.{Multimodal, Warc}
    val sf = "/root/testdata/sf0.001"
    val rows = Warc.qMm29(spark, sf).collect()
    var i = 0
    for (id <- 0L until Multimodal.AssetDocBound) {
      var base = 0L
      for (r <- 0 until Warc.warcRecordCount(id)) {
        val typ = Warc.warcType(r)
        val hdr = Warc.WarcHeaderBase + typ.length
        val plen = typ match {
          case "warcinfo" => Warc.warcInfoLen(id)
          case "request"  => Warc.warcRequestLen(id, r)
          case _          => Warc.HttpBlockLen + Warc.warcBodyLen(id, r)
        }
        val row = rows(i)
        assert(row.getLong(0) == id && row.getLong(1) == r + 1 &&
          row.getString(2) == typ && row.getLong(3) == base + hdr &&
          row.getLong(4) == plen.toLong,
          s"record map must replay the muxed algebra: $row (id=$id r=$r)")
        base += hdr + plen + 4
        i += 1
      }
    }
    assert(rows.length == i, s"${rows.length} vs $i records")
    // HTTP layer: every response's body range and status replay too
    val https = Warc.qMm30(spark, sf).collect()
    assert(https.nonEmpty && https.forall { h =>
      val (id, r) = (h.getLong(0), (h.getLong(1) - 1).toInt)
      h.getLong(2) == Warc.warcStatus(id, r).toLong &&
        h.getLong(4) == Warc.warcBodyLen(id, r).toLong
    }, "HTTP rows must replay status and body-length closed forms")
    import spark.implicits._
    val good = Warc.warcAssets(spark, sf)
      .where(col("asset_id") === 0L)
      .collect()(0).getAs[Array[Byte]]("bytes")
    val badVersion = good.clone(); badVersion(5) = '2'.toByte // WARC/2.0
    val truncated = good.take(good.length - 3) // final terminator cut
    // Content-Length value byte -> non-numeric (first record's header)
    val clAt = good.indexOfSlice("Content-Length: ".getBytes("US-ASCII"))
    assert(clAt > 0)
    val badLen = good.clone(); badLen(clAt + 16) = 'x'.toByte
    // lying INNER HTTP Content-Length: the record walk still passes
    // (outer lengths intact) but the HTTP layer must drop the clip
    val innerAt = {
      // find the Content-Length INSIDE a response payload: scan for the
      // HTTP status line, then the next Content-Length after it
      val st = good.indexOfSlice("HTTP/1.1 ".getBytes("US-ASCII"))
      assert(st > 0)
      good.indexOfSlice("Content-Length: ".getBytes("US-ASCII"), st)
    }
    assert(innerAt > 0)
    val lyingHttp = good.clone()
    lyingHttp(innerAt + 16) = '9'.toByte // 9xxxx never matches the body
    val junk = Seq((1L, "warc", badVersion), (2L, "warc", truncated),
      (3L, "warc", badLen)).toDF("asset_id", "kind", "bytes")
    assert(Warc.warcRecordMap(junk).isEmpty,
      "malformed WARC files must drop from the record map")
    assert(Warc.warcHttpMap(
      Seq((4L, "warc", lyingHttp)).toDF("asset_id", "kind", "bytes")).isEmpty,
      "a lying inner HTTP Content-Length must drop the clip")
    assert(Warc.WarcReader.parse(lyingHttp).nonEmpty,
      "the record walk alone accepts it — only the HTTP layer cross-checks")
  }

  test("TAR lane (q_mm31/q_mm32): the ustar walk reads back the muxed " +
    "closed forms; a corrupted header (checksum), bad size field, " +
    "missing end marker, and non-file typeflag all drop") {
    import graft.operators.{Multimodal, Tar}
    val sf = "/root/testdata/sf0.001"
    val rows = Tar.qMm31(spark, sf).collect()
    var i = 0
    for (id <- 0L until Multimodal.AssetDocBound) {
      var base = 0L
      for (m <- 0 until Tar.tarMemberCount(id)) {
        val sz = Tar.tarMemberLen(id, m)
        val row = rows(i)
        assert(row.getLong(0) == id && row.getLong(1) == m + 1 &&
          row.getString(2) == Tar.tarMemberName(id, m) &&
          row.getLong(3) == base + 512L && row.getLong(4) == sz.toLong,
          s"member map must replay the muxed algebra: $row (id=$id m=$m)")
        base += 512L + (sz + 511L) / 512L * 512L
        i += 1
      }
    }
    assert(rows.length == i, s"${rows.length} vs $i members")
    // the sample audit: every synthetic sample is complete (3 members,
    // all three modalities) with the closed-form byte total
    val audit = Tar.qMm32(spark, sf).collect()
    assert(audit.length == (0L until Multimodal.AssetDocBound)
      .map(Tar.tarSampleCount(_)).sum, s"${audit.length} samples")
    audit.foreach { r =>
      val id = r.getLong(0)
      val k = (r.getString(1).toLong - id * 100).toInt
      assert(r.getLong(2) == 3L &&
        r.getLong(3) == (Tar.tarJpgLen(id, k) + Tar.tarTxtLen(id, k) +
          Tar.tarJsonLen(id, k)).toLong &&
        r.getLong(4) == 1L && r.getLong(5) == 1L && r.getLong(6) == 1L,
        s"sample audit must replay the modality closed forms: $r")
    }
    import spark.implicits._
    val good = Tar.tarAssets(spark, sf)
      .where(col("asset_id") === 0L)
      .collect()(0).getAs[Array[Byte]]("bytes")
    // flip one name byte: the stored checksum no longer matches — the
    // walker must drop the archive, never emit a map off a corrupt header
    val corrupt = good.clone(); corrupt(0) = (corrupt(0) + 1).toByte
    // non-octal size field with the checksum FIXED UP ('x'-'0'), so the
    // drop exercises the size validation, not the checksum compare
    val badSize = good.clone(); badSize(124) = 'x'.toByte
    val sizeCs = java.lang.Long.toOctalString(
      java.lang.Long.parseLong(new String(good, 148, 6, "US-ASCII"), 8) +
        ('x' - '0'))
    ("0" * (6 - sizeCs.length) + sizeCs).getBytes("US-ASCII")
      .zipWithIndex.foreach { case (b, j) => badSize(148 + j) = b }
    // a SPACE-padded checksum field (the historic %6o layout) must parse
    val spaceCs = good.clone()
    var scj = 148
    while (scj < 153 && spaceCs(scj) == '0') { spaceCs(scj) = ' '; scj += 1 }
    assert(Tar.TarReader.parse(spaceCs).nonEmpty,
      "space-padded octal checksums are valid POSIX numerics")
    val noEnd = good.take(good.length - 1024) // end marker gone
    // directory typeflag with the checksum FIXED UP (+'5'-'0'), so the
    // drop is the typeflag scope rule, not a checksum side effect
    val dirFlag = good.clone(); dirFlag(156) = '5'.toByte
    val fixedCs = java.lang.Long.toOctalString(
      java.lang.Long.parseLong(new String(good, 148, 6, "US-ASCII"), 8) + 5)
    ("0" * (6 - fixedCs.length) + fixedCs).getBytes("US-ASCII")
      .zipWithIndex.foreach { case (b, j) => dirFlag(148 + j) = b }
    val junk = Seq((1L, "tar", corrupt), (2L, "tar", badSize),
      (3L, "tar", noEnd), (4L, "tar", dirFlag))
      .toDF("asset_id", "kind", "bytes")
    assert(Tar.tarMemberMap(junk).isEmpty,
      "corrupt/odd tar archives must drop, never throw")
  }

  test("sniff profiler (q_mm33): every mixed-corpus asset routes to its " +
    "format's walk by magic bytes alone; unknown blobs drop") {
    import graft.operators.{Multimodal, Profile}
    val sf = "/root/testdata/sf0.001"
    val rows = Profile.qMm33(spark, sf).collect()
    assert(rows.length == 200, s"one profile row per asset: ${rows.length}")
    rows.foreach { r =>
      val id = r.getLong(0)
      val want = (id % 6) match {
        case 0 => "mp4"; case 1 => "mkv"; case 2 => "mp3"
        case 3 => "warc"; case 4 => "tar"; case _ => "png"
      }
      assert(r.getString(1) == want, s"sniff must recover the format: $r")
    }
    // spot-check normalization across three formats; n_items = the
    // fetchable-unit count (video keyframes, not raw samples)
    val byId = rows.map(r => r.getLong(0) -> r).toMap
    assert(byId(0L).getLong(2) == Multimodal.mp4DurationMs(0L) &&
      byId(0L).getLong(5) == (Multimodal.mp4SampleCount(0L) +
        Multimodal.Mp4KeyInterval - 1) / Multimodal.Mp4KeyInterval)
    assert(byId(5L).getLong(3) == 4L + 5 % 13 &&
      byId(5L).getLong(4) == 4L + 5 % 7) // png IHDR geometry
    assert(byId(2L).getLong(5) == Multimodal.mp3FrameCount(2L).toLong)
    // an unsniffable blob drops; a sniffed-but-malformed one too — and
    // the PNG branch VALIDATES (CRC over every chunk), it never trusts
    // 4 signature bytes (review r18)
    import spark.implicits._
    val junkBytes = Array.tabulate(64)(i => (i * 7 % 251).toByte)
    val mkvTrunc = Multimodal.mkvAssets(spark, sf)
      .where(col("asset_id") === 1L)
      .collect()(0).getAs[Array[Byte]]("bytes").dropRight(9)
    val fakePng = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0D, 0x0A,
      0x1A, 0x0A) ++ Array.tabulate(40)(i => (i * 3 % 251).toByte)
    val goodPng = Multimodal.pngMetaAssets(spark, sf)
      .where(col("asset_id") === 5L)
      .collect()(0).getAs[Array[Byte]]("bytes")
    val bitRot = goodPng.clone()
    bitRot(goodPng.length / 2) = (bitRot(goodPng.length / 2) ^ 0x40).toByte
    val junk = Seq((1L, "bin", junkBytes), (2L, "bin", mkvTrunc),
      (3L, "bin", fakePng), (4L, "bin", bitRot))
      .toDF("asset_id", "kind", "bytes")
    assert(Profile.sniffProfile(junk).isEmpty,
      "unknown, malformed, signature-only, and bit-rotted blobs must drop")
    // the FLAC branch dispatches too (review r18: every shipped walker
    // must be sniffable) — pinned over a directly-built frame since the
    // six-format fixture corpus doesn't mux it
    val flacBytes = Multimodal.flacAssets(spark, sf)
      .where(col("asset_id") === 7L)
      .collect()(0).getAs[Array[Byte]]("bytes")
    val flacRows = Profile.sniffProfile(
      Seq((7L, "bin", flacBytes)).toDF("asset_id", "kind", "bytes"))
      .collect()
    val total7 = Multimodal.flacTotalSamples(7L)
    assert(flacRows.length == 1 && flacRows(0).getString(1) == "flac" &&
      flacRows(0).getLong(2) ==
        total7 * 1000L / Multimodal.flacSampleRate(7L) &&
      flacRows(0).getLong(5) ==
        (total7 + Multimodal.FlacBlockSize - 1) / Multimodal.FlacBlockSize,
      s"fLaC magic must dispatch to the FLAC walk: ${flacRows.toSeq}")
  }

  test("MP3 lane (q_mm28): the frame-header walk reads back the muxed " +
    "closed forms; desync, VBR, reserved indexes, bad ID3 all drop") {
    import graft.operators.Multimodal
    val sf = "/root/testdata/sf0.001"
    val parsed = Multimodal.qMm28(spark, sf).collect()
    assert(parsed.length == 200, s"one row per asset: ${parsed.length}")
    parsed.foreach { r =>
      val id = r.getLong(0)
      val n = Multimodal.mp3FrameCount(id).toLong
      val sr = Multimodal.mp3SampleRate(id)
      assert(r.getLong(1) == n &&
        r.getLong(2) == Multimodal.mp3BitrateKbps(id).toLong &&
        r.getLong(3) == sr.toLong &&
        r.getLong(4) == n * 1152L * 1000L / sr,
        s"frame walk must round-trip the muxed facts: $r")
    }
    import spark.implicits._
    // id 1 has no ID3 tag: frames start at byte 0
    val good = Multimodal.mp3Assets(spark, sf)
      .where(col("asset_id") === 1L)
      .collect()(0).getAs[Array[Byte]]("bytes")
    assert((good(0) & 0xff) == 0xFF, "fixture drift: expected frame sync")
    val badSync = good.clone(); badSync(0) = 0x12
    val truncated = good.take(good.length - 3) // final frame overruns
    val reserved = good.clone()
    reserved(2) = (0xF << 4).toByte // bitrate index 15 = reserved
    val vbr = good.clone()
    // second frame: id 1 is 192 kbps @ 44100, frame 0 unpadded ((1+0)%2=1)
    val f1At = 144 * 192 * 1000 / 44100
    assert((vbr(f1At) & 0xff) == 0xFF, "fixture drift: frame 1 sync")
    vbr(f1At + 2) = ((9 << 4) | (vbr(f1At + 2) & 0x0F)).toByte // 128 kbps
    // id 0 carries an ID3v2 tag; a non-synchsafe size byte is malformed
    val tagged = Multimodal.mp3Assets(spark, sf)
      .where(col("asset_id") === 0L)
      .collect()(0).getAs[Array[Byte]]("bytes")
    assert(tagged(0) == 'I'.toByte, "fixture drift: expected ID3 tag")
    val badId3 = tagged.clone(); badId3(9) = 0x80.toByte
    val junk = Seq((1L, "audio", badSync), (2L, "audio", truncated),
      (3L, "audio", reserved), (4L, "audio", vbr), (5L, "audio", badId3))
      .toDF("asset_id", "kind", "bytes")
    assert(Multimodal.mp3Meta(junk).isEmpty,
      "malformed MP3 streams must drop, never throw")
  }

  test("FLAC lane (q_mm34): the metadata-block walk reads back the muxed " +
    "closed forms; bad magic, lying STREAMINFO, forbidden type, " +
    "misordered chain, min>max all drop") {
    import graft.operators.Multimodal
    val sf = "/root/testdata/sf0.001"
    val parsed = Multimodal.qMm34(spark, sf).collect()
    assert(parsed.length == 200, s"one row per asset: ${parsed.length}")
    parsed.foreach { r =>
      val id = r.getLong(0)
      val sr = Multimodal.flacSampleRate(id)
      val total = Multimodal.flacTotalSamples(id)
      assert(r.getLong(1) == sr.toLong &&
        r.getLong(2) == Multimodal.flacChannels(id).toLong &&
        r.getLong(3) == Multimodal.flacBitsPerSample(id).toLong &&
        r.getLong(4) == total &&
        r.getLong(5) == (if (id % 2 == 0) 3L else 2L) &&
        r.getLong(6) == total * 1000L / sr,
        s"block walk must round-trip the muxed facts: $r")
    }
    import spark.implicits._
    // id 1: no VORBIS_COMMENT — blocks are STREAMINFO @4, PADDING, frames
    val good = Multimodal.flacAssets(spark, sf)
      .where(col("asset_id") === 1L)
      .collect()(0).getAs[Array[Byte]]("bytes")
    assert(good(0) == 'f'.toByte && good(4) == 0.toByte,
      "fixture drift: expected fLaC magic + STREAMINFO first")
    val badMagic = good.clone(); badMagic(0) = 'g'.toByte
    val truncated = good.take(good.length - 3) // audit byte-count mismatch
    // lying STREAMINFO: +0x10 to the packed field's bits-8..15 byte bumps
    // total samples by 4096 — one whole extra block, so the derived frame
    // count no longer matches measured audio bytes; must drop (a +1 bump
    // would land inside the same ceil(total/4096) block and stay true)
    val lying = good.clone(); lying(24) = (lying(24) + 0x10).toByte
    // the PADDING header (after STREAMINFO's 4+34 bytes = offset 42)
    // becomes last-flag | type 127 — the forbidden sentinel
    assert((good(42) & 0xff) == 0x81, "fixture drift: expected PADDING hdr")
    val forbidden = good.clone(); forbidden(42) = 0xFF.toByte
    // STREAMINFO not first: its type byte says APPLICATION (2)
    val misordered = good.clone(); misordered(4) = 2.toByte
    // min blocksize 4096 > max blocksize 2048
    val minOverMax = good.clone()
    minOverMax(10) = 0x08.toByte; minOverMax(11) = 0x00.toByte
    // a SECOND STREAMINFO (copy of the first, spliced in before the
    // PADDING block) — the exactly-once spec mandate
    val duplicated = good.slice(0, 42) ++ good.slice(4, 42) ++
      good.slice(42, good.length)
    val junk = Seq((1L, "audio", badMagic), (2L, "audio", truncated),
      (3L, "audio", lying), (4L, "audio", forbidden),
      (5L, "audio", misordered), (6L, "audio", minOverMax),
      (7L, "audio", duplicated))
      .toDF("asset_id", "kind", "bytes")
    assert(Multimodal.flacMeta(junk).isEmpty,
      "malformed FLAC streams must drop, never throw")
  }

  test("shard packing (q_t42) is bucket-width invariant and partitions the corpus") {
    import graft.operators.TextAnalysis
    val sf = "/root/testdata/sf0.001"
    def packed(width: Long): Seq[(Long, Long, Long, Long, Long)] =
      TextAnalysis.qT42Width(spark, sf, width)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4))).toSeq
    // the degenerate one-bucket cut IS the sequential reference; the
    // distributed cuts (prime and default widths) must equal it exactly
    val ref = packed(Long.MaxValue)
    assert(packed(7L) == ref, "width 7 diverged from the sequential cut")
    assert(packed(TextAnalysis.PackBucketWidth) == ref,
      "default width diverged from the sequential cut")
    // partition invariants: every document lands in exactly one shard,
    // token mass is conserved, doc ranges are contiguous shard to shard
    val docs = graft.core.Tables.documents(spark, sf)
      .selectExpr("count(1) AS n",
        "sum(size(split(lower(text), ' '))) AS tok")
      .collect()(0)
    assert(ref.map(_._2).sum == docs.getLong(0), "doc count not conserved")
    assert(ref.map(_._3).sum == docs.getLong(1), "token mass not conserved")
    ref.sliding(2).foreach { case Seq(a, b) =>
      assert(b._4 == a._5 + 1,
        s"shard ${b._1} first_doc ${b._4} != shard ${a._1} last_doc + 1")
    case _ => ()
    }
    assert(ref.map(_._1) == ref.indices.map(_.toLong),
      "shard ids not dense from 0")
  }
}
