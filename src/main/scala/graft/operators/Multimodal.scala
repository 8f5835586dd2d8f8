package graft.operators

import graft.{Q, QueryModule}
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Typed output row of the stub media decoder (q35). */
case class MediaMeta(
    doc_id: Long, n_bytes: Int, width: Int, height: Int,
    format: String, frame_hash: String)

/** Typed output row of the stub frame sampler (q130). */
case class FrameSample(
    doc_id: Long, frame_idx: Int, n_frames: Int, frame_md5: String, luma: Int)

/** Multimodal-column plumbing — beyond-reference extension (SURVEY.md §7
  * M5). Media payloads are opaque `binary` columns with typed metadata
  * alongside; the decode step is a clearly-marked deterministic STUB (no
  * image/audio libs in this container) but the Spark-side plumbing —
  * schema, batch shape, partition-parallel decode via mapPartitions over a
  * typed Dataset — is real. Swapping the stub for a JNI/ImageIO decoder
  * changes one function body, not the plan.
  */
object Multimodal extends QueryModule {

  /** q34 — metadata extraction over binary payloads: byte length, content
    * hash, header slice. All codegen'd built-ins; oracle-checked.
    */
  val mediaMeta: Q = (s, d) =>
    Tables.documents(s, d).select(
      col("doc_id"),
      length(col("text").cast("binary")).as("n_bytes"),
      md5(col("text").cast("binary")).as("payload_md5"),
      base64(substring(col("text"), 1, 8).cast("binary")).as("header_b64"))
      .orderBy("doc_id")

  /** q35 — partition-parallel decode (STUB): mapPartitions over a typed
    * Dataset of (id, payload). The stub derives deterministic fake
    * width/height/format/frame-hash from the payload; a real decoder drops
    * into the same iterator. No driver-side collect anywhere.
    *
    * The fake formulas are deliberately arithmetic the DuckDB oracle can
    * reproduce (octet_length + md5 of a 16-char header prefix), so this
    * query gets a full hash-match check instead of a rows-only one even
    * though the decode itself is stubbed.
    */
  val decodeStub: Q = (s, d) => {
    import s.implicits._
    Tables.documents(s, d).select(col("doc_id"), col("text"))
      .as[(Long, String)].mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map { case (id, text) =>
          // STUB decoder — replace with a real image/audio decode; the
          // container ships no media libs. Everything below is derived
          // deterministically from the payload.
          val bytes = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val w = 64 + (bytes.length % 512)
          val h = 64 + ((bytes.length / 2) % 512)
          md.reset()
          val hex = toHex(md.digest(text.take(16)
            .getBytes(java.nio.charset.StandardCharsets.UTF_8)), hexL)
          val fmt = if ("02468ace".contains(hex.charAt(0))) "jpeg-stub" else "png-stub"
          MediaMeta(id, bytes.length, w, h, fmt, hex.substring(0, 16))
        }
      }.toDF().orderBy("doc_id")
  }

  private val frameBytes = 64
  private val samplesPerDoc = 4

  /** Table-driven hex encoders. `"%02X".format(_)` per byte dominated the
    * q130 partition loop (a Formatter allocation + parse per BYTE — ~51M
    * calls at sf0.1); a char-table fill is output-identical and removes
    * the per-byte allocation entirely.
    */
  private val hexU = "0123456789ABCDEF".toCharArray
  private val hexL = "0123456789abcdef".toCharArray
  private def toHex(bytes: Array[Byte], tab: Array[Char]): String = {
    val out = new Array[Char](bytes.length * 2)
    var i = 0
    while (i < bytes.length) {
      val b = bytes(i) & 0xff
      out(2 * i) = tab(b >>> 4)
      out(2 * i + 1) = tab(b & 0xf)
      i += 1
    }
    new String(out)
  }

  /** q130 — uniform FRAME SAMPLING (STUB): the video-preprocessing shape —
    * each payload is treated as a sequence of [[frameBytes]]-BYTE frames
    * and [[samplesPerDoc]] frames are selected at uniform temporal
    * positions (idx_j = j·n/4 — the standard uniform clip sampler),
    * decoded per frame by the same partition-parallel typed mapPartitions
    * plumbing as q35. Output is one row per SAMPLED frame (doc_id,
    * frame_idx, per-frame digest + fake luma) — linear in documents ×
    * samples, never in total frames, which is the property that matters
    * when the payload is an hour of video.
    *
    * Framing is over the UTF-8 BYTE stream (`getBytes`, sliced as a byte
    * array), never the char sequence — a real payload is binary, and the
    * oracle frames the same stream via `hex(encode(text))` 2-chars-per-
    * byte, so parity holds for ANY fixture content, not just ASCII. The
    * "decode" is the declared stub: frame digest = md5 of the frame's
    * UPPERCASE-hex encoding (an ASCII string both engines hash
    * identically — DuckDB's md5 takes VARCHAR only, so hashing raw bytes
    * that may not be valid UTF-8 is inexpressible there), luma = unsigned
    * byte sum mod 256. A real cv/ffmpeg frame extractor drops into the
    * same iterator without touching the plan.
    */
  val frameSampleStub: Q = (s, d) => {
    import s.implicits._
    Tables.documents(s, d).select(col("doc_id"), col("text"))
      .as[(Long, String)].mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { case (id, text) =>
          val bytes = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val n = (bytes.length + frameBytes - 1) / frameBytes
          val picks = (0 until samplesPerDoc).map(j => j * n / samplesPerDoc)
            .distinct.filter(_ < n)
          picks.map { idx =>
            val frame = java.util.Arrays.copyOfRange(bytes,
              idx * frameBytes,
              math.min((idx + 1) * frameBytes, bytes.length))
            val frameHex = toHex(frame, hexU)
            md.reset()
            val hex = toHex(md.digest(frameHex
              .getBytes(java.nio.charset.StandardCharsets.US_ASCII)), hexL)
            val luma = frame.foldLeft(0L)((a, b) => a + (b & 0xff)) % 256
            FrameSample(id, idx, n, hex.substring(0, 16), luma.toInt)
          }
        }
      }.toDF().orderBy("doc_id", "frame_idx")
  }

  /** q144 framing/threshold — 16-byte frames (an audio-ish hop size,
    * deliberately different from q130's 64-byte video frame) and a fixed
    * energy gate calibrated to the fixture byte distribution (~53% of
    * frames active, ~5 segments per document). */
  private val vadFrameBytes = 16
  private val vadThreshold = 1500

  /** q144 — ACTIVITY SEGMENTATION (VAD-shape, STUB): the audio
    * silence-removal pipeline — frame the payload byte stream, score each
    * frame with an "energy" (stub: unsigned byte sum; a real
    * webrtcvad/energy-RMS scorer drops into the same mapPartitions
    * iterator), gate on a threshold, and merge consecutive active frames
    * into maximal SEGMENTS with the same gaps-and-islands discipline as
    * q141 (break when frame indices are non-consecutive). Output is one
    * row per segment (start/end frame, frame count, energy mass) —
    * linear in segments, never in frames, which is what matters when the
    * payload is an hour of audio. The frame scoring is partition-parallel
    * typed mapPartitions (the q35/q130 plumbing); the segmentation is
    * declarative (window + aggregate), so Catalyst plans it — the stub
    * boundary stays exactly one function body wide. Trailing short frames
    * score low and read as silence, so documents end on an inactive tail
    * the segments simply omit.
    */
  val vadSegments: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val frames = Tables.documents(s, d).select(col("doc_id"), col("text"))
      .as[(Long, String)].mapPartitions { it =>
        it.flatMap { case (id, text) =>
          val bytes = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val n = (bytes.length + vadFrameBytes - 1) / vadFrameBytes
          (0 until n).iterator.map { i =>
            val from = i * vadFrameBytes
            val until = math.min(bytes.length, from + vadFrameBytes)
            var e = 0
            var j = from
            while (j < until) { e += bytes(j) & 0xff; j += 1 }
            (id, i, e)
          }
        }
      }.toDF("doc_id", "frame_idx", "energy")
    val w = Window.partitionBy("doc_id").orderBy("frame_idx")
    frames.filter(col("energy") > vadThreshold)
      .withColumn("brk",
        when(col("frame_idx") - lag("frame_idx", 1).over(w) > 1, 1).otherwise(0))
      .withColumn("grp", sum("brk").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("doc_id", "grp")
      .agg(min("frame_idx").as("seg_start"), max("frame_idx").as("seg_end"),
        count(lit(1)).as("n_frames"), sum("energy").as("energy_sum"))
      .select(col("doc_id"), col("seg_start"), col("seg_end"),
        col("n_frames"), col("energy_sum"))
      .orderBy("doc_id", "seg_start")
  }

  /** q256 pHash geometry: 7 slice-bytes = a 56-bit hash (a full 8-byte
    * pack would overflow signed BIGINT in both engines), verify threshold
    * 6 BITS — chosen so byte-banding is pigeonhole-EXACT: ≤ 6 differing
    * bits touch ≤ 6 of the 7 bytes, so every qualifying pair shares ≥ 1
    * identical byte-band (the q65 exactness discipline at 56-bit width).
    */
  private val phashSlices = 7
  private val phashTau = 6

  /** q256 — PERCEPTUAL-HASH near-dup over media payloads (STUB hash,
    * real dedup): the image-dedup pass a multimodal training pipeline
    * runs — images reduce to a small fixed-width perceptual hash (DCT
    * pHash in production) and near-duplicates are pairs within a small
    * hamming radius, found by banded self-join, never all-pairs. The
    * hash is the declared stub (no image libs in this container): byte i
    * = the first md5 byte of the payload's i-th character slice, so
    * payloads sharing a slice agree on that byte exactly as crops/
    * re-encodes agree on most DCT bands — near-dup structure a real
    * pHash would produce, derived deterministically and mirrored
    * formula-for-formula by the DuckDB oracle. A real decoder+DCT drops
    * in as one expression/mapPartitions producing the same BIGINT
    * column; every downstream plan node is unchanged.
    *
    * Plan shape: hash + band table staged once (expression-only, whole-
    * stage codegen — no UDFs), candidate generation is the (band, byte)
    * equi-join with d1 < d2, each pair emitted only from its lowest
    * colliding band ([[graft.functions.Hashing.firstCollision]] over the
    * staged band array, so no dedup aggregate), verification is one codegen'd
    * bit_count(xor) ≤ τ filter, verdicts aggregate per document (mate
    * count, least mate id — the q37 readout). Scale posture: byte bands
    * have 256 buckets/band — the declared fixed-block-space family
    * (q65/q79's argument); the production dial is wider bands (2-byte =
    * 65k buckets) traded against the pigeonhole radius, documented here
    * rather than hidden.
    */
  val phashDedup: Q = (s, d) => {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      .withColumn("l8", expr(s"greatest(length(text) div $phashSlices, 1)"))
    val byteCols = (0 until phashSlices).map { i =>
      expr(s"cast(conv(substring(md5(substring(text, 1 + $i * l8, l8)), 1, 2), 16, 10) as bigint)")
        .as(s"b$i")
    }
    val hashed = docs.select((col("doc_id") +: byteCols): _*)
      .select(col("doc_id"),
        (0 until phashSlices).map(i => col(s"b$i") * lit(1L << (8 * i)))
          .reduce(_ + _).as("phash"),
        array((0 until phashSlices).map(i =>
          struct(lit(i).as("band"), col(s"b$i").as("byte_v"))): _*).as("bands"))
    val h = graft.Scratch.stage("graft_phash", hashed)
    val banded = h.select(col("doc_id"), col("phash"), col("bands"),
      explode(col("bands")).as("bb"))
      .select(col("doc_id"), col("phash"), col("bands"),
        col("bb.band").as("band"), col("bb.byte_v").as("byte_v"))
    val first = graft.functions.Hashing.firstCollision(
      (0 until phashSlices).map(i => (col("l.bands")(i)("byte_v"),
        col("r.bands")(i)("byte_v"))))
    val cand = banded.alias("l").join(banded.alias("r"),
        col("l.band") === col("r.band") &&
          col("l.byte_v") === col("r.byte_v") &&
          col("l.doc_id") < col("r.doc_id") && col("l.band") === first)
      .select(col("l.doc_id").as("d1"), col("r.doc_id").as("d2"),
        col("l.phash").as("p1"), col("r.phash").as("p2"))
    val pairs = cand.filter(expr(s"bit_count(p1 ^ p2) <= $phashTau"))
    val mates = pairs.select(col("d1").as("doc_id"), col("d2").as("mate"))
      .unionByName(pairs.select(col("d2").as("doc_id"), col("d1").as("mate")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_mates"), min("mate").as("least_mate"))
    h.select(col("doc_id"), col("phash"))
      .join(mates, Seq("doc_id"), "left")
      .select(col("doc_id"), col("phash"),
        coalesce(col("n_mates"), lit(0L)).as("n_mates"),
        coalesce(col("least_mate"), lit(-1L)).as("dup_of"),
        (coalesce(col("n_mates"), lit(0L)) > 0 &&
          col("least_mate") < col("doc_id")).as("is_dup"))
      .orderBy("doc_id")
  }

  /** q271 constellation parameters: 16-byte frames (q144's audio hop),
    * 1024 pseudo-frequency bins, anchors fan out to targets 3..6 frames
    * ahead (the Shazam fan-out window), probes are doc_id % 11 == 3
    * recorded from the middle third of their own stream. */
  private val afpFrameBytes = 16
  private[graft] val afpBins = 1024L
  private val afpFanLo = 3
  private val afpFanHi = 6
  private val afpProbeMod = 11L
  private val afpProbeRes = 3L

  /** q271 — AUDIO CONSTELLATION FINGERPRINT + snippet matching (STUB):
    * the Shazam/Wang-2003 shape — frame the payload stream, pick a
    * spectral peak per frame (stub: energy % [[afpBins]]; a real FFT
    * argmax-bin drops into the same mapPartitions iterator), pair each
    * anchor with targets Δ = 3..6 frames ahead, and pack
    * (binA, binT, Δ) into one integer landmark hash. Matching replays
    * recognition: every probe document "records" its middle third —
    * landmark hashes whose anchor AND target fall inside the snippet —
    * probes the staged landmark index by ONE hash equi-join (never
    * doc × doc), and votes on (candidate, time-offset); the Shazam
    * insight is that only the true source lines up at a CONSTANT offset,
    * so the argmax (votes, candidate, offset) row per probe is the
    * match. Output: one row per probe with its best match, offset, vote
    * count, and snippet landmark count — for a self-contained corpus the
    * top votes must equal the snippet's landmark count at offset 0 (an
    * exact-twin document can tie and win the min-id tiebreak; the spec
    * pins the perfect-recall invariant, not identity). Landmarks stage
    * once (built by a Δ-explode + frame equi-join, all doc_id-local);
    * scale is linear in frames × 4 fan-out, the index probe is
    * hash-bucketed (≈8M hash space), and the vote table is bounded by
    * true collisions — the q37 banding argument in time-frequency space.
    */
  val audioFingerprint: Q = (s, d) => {
    import s.implicits._
    val frames = Tables.documents(s, d).select(col("doc_id"), col("text"))
      .as[(Long, String)].mapPartitions { it =>
        it.flatMap { case (id, text) =>
          val bytes = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val n = (bytes.length + afpFrameBytes - 1) / afpFrameBytes
          (0 until n).iterator.map { i =>
            val from = i * afpFrameBytes
            val until = math.min(bytes.length, from + afpFrameBytes)
            var e = 0
            var j = from
            while (j < until) { e += bytes(j) & 0xff; j += 1 }
            (id, i.toLong, (e % afpBins.toInt).toLong, n.toLong)
          }
        }
      }.toDF("doc_id", "i", "bin", "n")
    val anchors = frames.select(col("doc_id"), col("i"), col("bin"),
        col("n"), explode(expr(s"sequence($afpFanLo, $afpFanHi)")).as("dt"))
      .withColumn("ti", col("i") + col("dt"))
    val lm = anchors.join(
        frames.select(col("doc_id"), col("i").as("ti"),
          col("bin").as("bin_t")),
        Seq("doc_id", "ti"))
      .select(col("doc_id"), col("i"), col("ti"), col("n"),
        (col("bin") * (afpBins * 8L) + col("bin_t") * 8L +
          (col("ti") - col("i"))).as("h"))
    val index = graft.Scratch.stage("graft_afp", lm)
    val query = index
      .filter(col("doc_id") % afpProbeMod === afpProbeRes)
      .filter(col("i") >= expr("n div 3") && col("ti") < expr("(2 * n) div 3"))
      .select(col("doc_id").as("q"), col("i").as("qi"), col("h"))
    val nq = query.groupBy("q").agg(count(lit(1)).as("n_query_landmarks"))
    val votes = query.join(index.select(col("doc_id").as("cand"),
        col("i").as("ci"), col("h")), Seq("h"))
      .groupBy(col("q"), col("cand"), (col("ci") - col("qi")).as("toff"))
      .agg(count(lit(1)).as("votes"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("q")
      .orderBy(col("votes").desc, col("cand"), col("toff"))
    votes.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
      .join(nq, "q")
      .select(col("q").as("probe_id"), col("cand").as("best_match"),
        col("toff").as("best_offset"), col("votes"),
        col("n_query_landmarks"))
      .orderBy("probe_id")
  }

  def queries: Map[String, Q] = Map(
    "q34_multimodal_meta" -> mediaMeta,
    "q35_multimodal_decode" -> decodeStub,
    "q130_frame_sample" -> frameSampleStub,
    "q144_vad_segments" -> vadSegments,
    "q271_audio_fingerprint" -> audioFingerprint,
    "q256_phash_dedup" -> phashDedup)

  def oracles: Map[String, String] = Map(
    // the identical slice/md5/byte-pack hash, band equi-join, and
    // bit_count(xor) verify, formula for formula
    "q256_phash_dedup" -> {
      val byteExprs = (0 until phashSlices).map { i =>
        s"('0x' || substr(md5(substring(text, 1 + $i * l8, l8)), 1, 2))::BIGINT AS b$i"
      }.mkString(",\n    ")
      val pack = (0 until phashSlices).map(i => s"b$i * ${1L << (8 * i)}")
        .mkString(" + ")
      val bandRows = (0 until phashSlices).map(i =>
        s"SELECT doc_id, phash, $i AS band, b$i AS byte_v FROM h")
        .mkString("\n  UNION ALL ")
      s"""WITH sl AS (SELECT doc_id, text,
         |    greatest(length(text) // $phashSlices, 1) AS l8
         |  FROM documents),
         |h AS MATERIALIZED (SELECT *, $pack AS phash FROM (
         |  SELECT doc_id,
         |    $byteExprs
         |  FROM sl)),
         |banded AS ($bandRows),
         |cand AS (SELECT DISTINCT l.doc_id AS d1, r.doc_id AS d2,
         |    l.phash AS p1, r.phash AS p2
         |  FROM banded l JOIN banded r
         |  ON l.band = r.band AND l.byte_v = r.byte_v
         |    AND l.doc_id < r.doc_id),
         |pairs AS (SELECT * FROM cand WHERE bit_count(xor(p1, p2)) <= $phashTau),
         |mates AS (SELECT doc_id, count(*) AS n_mates,
         |    min(mate) AS least_mate
         |  FROM (SELECT d1 AS doc_id, d2 AS mate FROM pairs
         |    UNION ALL SELECT d2, d1 FROM pairs) GROUP BY 1)
         |SELECT h.doc_id, CAST(h.phash AS BIGINT) AS phash,
         |  COALESCE(m.n_mates, 0) AS n_mates,
         |  COALESCE(m.least_mate, -1) AS dup_of,
         |  (COALESCE(m.n_mates, 0) > 0 AND m.least_mate < h.doc_id) AS is_dup
         |FROM h LEFT JOIN mates m ON h.doc_id = m.doc_id
         |ORDER BY h.doc_id""".stripMargin
    },
    // q144's hex-decoded frame energies, the identical (binA, binT, dt)
    // hash pack, the identical snippet window, hash equi-join, and
    // (votes DESC, cand, offset) argmax — vote for vote
    "q271_audio_fingerprint" -> {
      val fw = afpFrameBytes * 2
      s"""WITH f AS (SELECT doc_id, hex(encode(text)) AS hx,
         |    (octet_length(encode(text)) + ${afpFrameBytes - 1})
         |      // $afpFrameBytes AS n_frames
         |  FROM documents),
         |fr AS (SELECT doc_id, hx, n_frames,
         |    unnest(range(0, n_frames)) AS j FROM f),
         |fe AS MATERIALIZED (SELECT doc_id, CAST(j AS BIGINT) AS i,
         |    CAST(n_frames AS BIGINT) AS n,
         |    CAST(list_sum(list_transform(
         |      range(0, length(substring(hx, CAST(j * $fw + 1 AS INT), $fw)) // 2),
         |      k -> (strpos('0123456789ABCDEF', substring(
         |              substring(hx, CAST(j * $fw + 1 AS INT), $fw),
         |              CAST(k*2+1 AS INT), 1)) - 1) * 16
         |         + (strpos('0123456789ABCDEF', substring(
         |              substring(hx, CAST(j * $fw + 1 AS INT), $fw),
         |              CAST(k*2+2 AS INT), 1)) - 1))) % $afpBins AS BIGINT)
         |      AS bin
         |  FROM fr),
         |an AS (SELECT doc_id, i, bin, n,
         |    unnest([$afpFanLo::BIGINT, ${afpFanLo + 1}::BIGINT,
         |      ${afpFanHi - 1}::BIGINT, $afpFanHi::BIGINT]) AS dt
         |  FROM fe),
         |lm AS MATERIALIZED (SELECT a.doc_id, a.i, a.i + a.dt AS ti, a.n,
         |    a.bin * ${afpBins * 8L} + t.bin * 8 + a.dt AS h
         |  FROM an a JOIN fe t ON a.doc_id = t.doc_id AND t.i = a.i + a.dt),
         |qs AS MATERIALIZED (SELECT doc_id AS q, i AS qi, h FROM lm
         |  WHERE doc_id % $afpProbeMod = $afpProbeRes
         |    AND i >= n // 3 AND ti < (2 * n) // 3),
         |nq AS (SELECT q, count(*) AS n_query_landmarks FROM qs GROUP BY 1),
         |v AS (SELECT qs.q, l.doc_id AS cand, l.i - qs.qi AS toff,
         |    count(*) AS votes
         |  FROM qs JOIN lm l USING (h) GROUP BY 1, 2, 3),
         |best AS (SELECT q, cand, toff, votes, row_number() OVER (
         |    PARTITION BY q ORDER BY votes DESC, cand, toff) AS rk FROM v)
         |SELECT b.q AS probe_id, b.cand AS best_match,
         |  b.toff AS best_offset, b.votes, nq.n_query_landmarks
         |FROM best b JOIN nq ON b.q = nq.q WHERE rk = 1
         |ORDER BY probe_id""".stripMargin
    },
    // frames re-derived from the hex encoding (2 chars/byte — the only
    // byte-accurate route DuckDB 1.0 offers), then the same threshold +
    // islands chain over DuckDB's window engine
    "q144_vad_segments" -> {
      val fw = vadFrameBytes * 2
      s"""WITH f AS (SELECT doc_id, hex(encode(text)) AS hx,
         |    (octet_length(encode(text)) + ${vadFrameBytes - 1}) // $vadFrameBytes
         |      AS n_frames
         |  FROM documents),
         |fr AS (SELECT doc_id, hx, unnest(range(0, n_frames)) AS j FROM f),
         |fe AS (SELECT doc_id, CAST(j AS INT) AS frame_idx,
         |    CAST(list_sum(list_transform(
         |      range(0, length(substring(hx, CAST(j * $fw + 1 AS INT), $fw)) // 2),
         |      i -> (strpos('0123456789ABCDEF', substring(
         |              substring(hx, CAST(j * $fw + 1 AS INT), $fw),
         |              CAST(i*2+1 AS INT), 1)) - 1) * 16
         |         + (strpos('0123456789ABCDEF', substring(
         |              substring(hx, CAST(j * $fw + 1 AS INT), $fw),
         |              CAST(i*2+2 AS INT), 1)) - 1))) AS INT) AS energy
         |  FROM fr),
         |act AS (SELECT doc_id, frame_idx FROM fe WHERE energy > $vadThreshold),
         |isl AS (SELECT doc_id, frame_idx, energy,
         |    CASE WHEN frame_idx - lag(frame_idx)
         |      OVER (PARTITION BY doc_id ORDER BY frame_idx) > 1
         |      THEN 1 ELSE 0 END AS brk
         |  FROM fe WHERE energy > $vadThreshold),
         |grps AS (SELECT doc_id, frame_idx, energy,
         |    sum(brk) OVER (PARTITION BY doc_id ORDER BY frame_idx
         |      ROWS UNBOUNDED PRECEDING) AS grp
         |  FROM isl)
         |SELECT doc_id, CAST(min(frame_idx) AS INT) AS seg_start,
         |  CAST(max(frame_idx) AS INT) AS seg_end,
         |  count(*) AS n_frames, CAST(sum(energy) AS BIGINT) AS energy_sum
         |FROM grps GROUP BY doc_id, grp
         |ORDER BY doc_id, seg_start""".stripMargin
    },
    "q130_frame_sample" ->
      s"""WITH f AS (SELECT doc_id, hex(encode(text)) AS hx,
         |    CAST((octet_length(encode(text)) + ${frameBytes - 1}) // $frameBytes
         |      AS INT) AS n_frames
         |  FROM documents),
         |idx AS (SELECT DISTINCT doc_id, n_frames,
         |    CAST(j * n_frames // $samplesPerDoc AS INT) AS frame_idx
         |  FROM f, (SELECT unnest(range(0, $samplesPerDoc)) AS j) js
         |  WHERE j * n_frames // $samplesPerDoc < n_frames),
         |fr AS (SELECT i.doc_id, i.frame_idx, i.n_frames,
         |    substring(f.hx, i.frame_idx * ${frameBytes * 2} + 1,
         |      ${frameBytes * 2}) AS fhx
         |  FROM idx i JOIN f ON i.doc_id = f.doc_id)
         |SELECT doc_id, frame_idx, n_frames,
         |  substring(md5(fhx), 1, 16) AS frame_md5,
         |  CAST(list_sum(list_transform(range(0, length(fhx) // 2),
         |    i -> (strpos('0123456789ABCDEF',
         |            substring(fhx, CAST(i*2+1 AS INT), 1)) - 1) * 16
         |       + (strpos('0123456789ABCDEF',
         |            substring(fhx, CAST(i*2+2 AS INT), 1)) - 1)))
         |    % 256 AS INT) AS luma
         |FROM fr ORDER BY doc_id, frame_idx""".stripMargin,
    "q35_multimodal_decode" ->
      """SELECT doc_id,
        | CAST(octet_length(text::BLOB) AS INT) AS n_bytes,
        | CAST(64 + octet_length(text::BLOB) % 512 AS INT) AS width,
        | CAST(64 + (octet_length(text::BLOB) // 2) % 512 AS INT) AS height,
        | CASE WHEN strpos('02468ace', substring(md5(substring(text, 1, 16)), 1, 1)) > 0
        |   THEN 'jpeg-stub' ELSE 'png-stub' END AS format,
        | substring(md5(substring(text, 1, 16)), 1, 16) AS frame_hash
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q34_multimodal_meta" ->
      """SELECT doc_id, CAST(octet_length(text::BLOB) AS INT) AS n_bytes,
        | md5(text) AS payload_md5,
        | to_base64(substring(text, 1, 8)::BLOB) AS header_b64
        |FROM documents ORDER BY doc_id""".stripMargin)
}
