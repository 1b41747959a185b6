package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Multimodal plumbing (SURVEY.md §2 F*): media as opaque `binary`
  * payloads + typed metadata structs. The container has no
  * image/audio codecs, so the decode KERNEL is a deterministic stub
  * (first-bytes feature vector) — but everything Spark-side is the
  * real shape: binary columns flow through scans and shuffles
  * untouched, decode iterates partition batches through a typed
  * Dataset (the `mapInPandas`/`mapPartitions` batch pattern), and
  * frame sampling is pure codegen'd column algebra over the bytes.
  * Swapping the stub for a JNI/codec call changes one function.
  *
  * Payloads here are the documents' UTF-8 bytes (ASCII corpus), which
  * keeps every op oracle-able: DuckDB recomputes the same features
  * from the text.
  */
object Multimodal {

  /** Deterministic mime assignment — a stand-in for real sniffing. */
  private def mimeCol = when(col("doc_id") % 3 === 0, "image/png")
    .when(col("doc_id") % 3 === 1, "audio/wav")
    .otherwise("video/mp4")

  /** F1 building block: documents → (doc_id, payload: binary,
    * meta: struct(mime, n_bytes, source)). */
  def mediaTable(s: SparkSession, dir: String): DataFrame =
    documents(s, dir).select(
      col("doc_id"),
      encode(col("text"), "UTF-8").as("payload"),
      struct(
        mimeCol.as("mime"),
        length(encode(col("text"), "UTF-8")).as("n_bytes"),
        col("source").as("source")).as("meta"))

  /** F1: schema + stats — bytes under management per mime type. */
  def mmSchema(s: SparkSession, dir: String): DataFrame =
    mediaTable(s, dir)
      .groupBy(col("meta.mime").as("mime"))
      .agg(count(lit(1)).as("n_items"), sum(col("meta.n_bytes")).as("total_bytes"))

  val mmSchemaSql: String =
    """SELECT CASE WHEN doc_id % 3 = 0 THEN 'image/png'
      |            WHEN doc_id % 3 = 1 THEN 'audio/wav'
      |            ELSE 'video/mp4' END AS mime,
      |  count(*) AS n_items, sum(strlen(text))::BIGINT AS total_bytes
      |FROM documents GROUP BY 1""".stripMargin

  /** K-line: content-hash dedup of the binary payloads — the CAS
    * (content-addressed storage) report an image/audio pipeline runs
    * before re-encoding anything: per mime type, how many payloads,
    * how many unique blobs, and the bytes a dedup pass reclaims.
    * Hashes are md5 over the RAW binary column (the payload never
    * decodes); two groupBys — (mime, hash) then mime — both
    * map-side-combining aggregates, so at 100 TB the shuffle carries
    * 16-byte keys + counters, never blobs. */
  def mmDedup(s: SparkSession, dir: String): DataFrame = {
    val m = mediaTable(s, dir).select(col("doc_id"), col("payload"),
      col("meta.mime").as("mime"), col("meta.n_bytes").as("n_bytes"))
    m.groupBy(col("mime"), md5(col("payload")).as("h"))
      // identical payloads have identical sizes: min() IS the size
      .agg(count(lit(1)).as("copies"),
        sum(col("n_bytes")).as("bytes_all"), min(col("n_bytes")).as("bytes_one"))
      .groupBy(col("mime"))
      .agg(count(lit(1)).as("n_unique"),
        sum(col("copies")).as("n_payloads"),
        sum(col("bytes_all") - col("bytes_one")).as("dup_bytes"))
  }

  val mmDedupSql: String =
    """WITH m AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 3 = 0 THEN 'image/png'
      |         WHEN doc_id % 3 = 1 THEN 'audio/wav'
      |         ELSE 'video/mp4' END AS mime,
      |    strlen(text) AS n_bytes, md5(text) AS h
      |  FROM documents),
      |g AS (
      |  SELECT mime, h, count(*) AS copies,
      |    sum(n_bytes)::BIGINT AS bytes_all, min(n_bytes) AS bytes_one
      |  FROM m GROUP BY 1, 2)
      |SELECT mime, count(*) AS n_unique, sum(copies)::BIGINT AS n_payloads,
      |  sum(bytes_all - bytes_one)::BIGINT AS dup_bytes
      |FROM g GROUP BY 1""".stripMargin

  /** pHash geometry: 64 slice-mean bits, 8 bands × 8 bits, and the
    * Hamming radius that counts as a perceptual near-dup. Radius ≤ 7
    * is pigeonhole-exact under 8 bands (any such pair shares a clean
    * band); the [[dedupSimhashWide]]-style probabilistic tail above
    * it is not needed here (planted near-dups land well inside,
    * spec-measured). */
  val PhashBits = 64
  val PhashBands = 8
  val PhashBandBits: Int = PhashBits / PhashBands
  val PhashRadius = 7

  /** Planted perceptual near-dups: every PlantMod-th doc contributes
    * a DERIVED payload (id + [[PlantOffset]], same mime as its
    * source) whose text has every 'e' replaced in place by 'f' — the
    * byte-domain analog of a slightly re-encoded image: values
    * perturb, NOTHING SHIFTS, so the pHash moves 0-4 bits (measured;
    * the corpus's organic text near-dups, by contrast, shift
    * alignment and land at hamming 17-41, background floor 16 — they
    * are NOT perceptual dups and must not be found). The same
    * deterministic-planting convention as scrub_pii/domain_stats. */
  val PlantMod = 10
  val PlantRes = 3
  val PlantOffset = 1000000000L

  /** mediaTable + planted near-dup payloads — the phash op's input. */
  def phashMedia(s: SparkSession, dir: String): DataFrame = {
    val base = mediaTable(s, dir)
      .select(col("doc_id"), col("meta.mime").as("mime"), col("payload"))
    val planted = documents(s, dir)
      .filter(col("doc_id") % PlantMod === PlantRes)
      .select((col("doc_id") + PlantOffset).as("doc_id"), mimeCol.as("mime"),
        encode(translate(col("text"), "e", "f"), "UTF-8").as("payload"))
    base.unionByName(planted)
  }

  /** Perceptual hash of the payload as band values — the classic
    * aHash structure transplanted to the byte domain: the payload is
    * cut into [[PhashBits]] equal slices and bit_k = (mean of slice
    * k) > (global mean), computed as the EXACT INTEGER cross-product
    * test `sum_k·len > total·n_k` (no division — engine-identical).
    * A real image pipeline computes the same bits over 8×8
    * downsampled luma; this byte-domain stand-in has the property
    * that matters: payloads differing in a few spans flip few bits.
    * Per-byte explode is the decode-analog map-side stage; everything
    * after is two (doc-keyed) combining aggregates. Emits (doc_id,
    * mime, idx, v) band rows — band value doubles as the LSH bucket
    * key, exactly like [[graft.functions.HashFns.simhashBandsAggPortable]]. */
  def phashBands(s: SparkSession, dir: String): DataFrame =
    phashMedia(s, dir)
      .withColumn("len", length(col("payload")))
      // a 0-byte payload would yield empty idxs/sb arrays where the
      // oracle emits NO row for the doc
      .filter(col("len") > 0)
      // the whole per-doc sketch is ONE [[graft.plans.PhashSketch]]
      // pass over the payload bytes — no per-byte explode, no (doc,
      // slice) aggregate, no doc-keyed re-aggregate, no interpreted
      // HOF folds; the operator's first exchange is its consumer's
      // (OPTIMIZATION_r14.md row 13: 10 → 4 Exchange, warm
      // 1.506 → 0.525 s)
      .select(col("doc_id"), col("mime"),
        call_function("phash_sketch", col("payload"),
          lit(PhashBits), lit(PhashBandBits)).as("pb"))
      .select(col("doc_id"), col("mime"),
        col("pb.idxs").as("idxs"), col("pb.sb").as("sb"))

  /** K-line: PERCEPTUAL near-dup detection over binary payloads — the
    * near-dup complement of [[mmDedup]]'s exact-CAS accounting (a
    * re-encoded/trimmed copy has a different md5 but a near-identical
    * pHash). Same machinery as dedup_simhash: band values are the
    * bucket keys, candidates come from a WITHIN-MIME (mime, band,
    * value) equi-join — cross-media hashes are incomparable, and the
    * mime key keeps buckets tighter — then the exact ≤ [[PhashRadius]]
    * Hamming verify runs on the full 8-band sketch map-side before
    * the dedup shuffle. Shuffle ∝ docs × bands; blobs never move
    * (the sketch is 8 longs). Fully DuckDB-oracled; the spec proves
    * the recovered set is EXACTLY the planted (source, derived)
    * pairs — organic text near-dups stay out (see [[phashMedia]]). */
  def mmPhashDedup(s: SparkSession, dir: String): DataFrame = {
    val sigs = phashBands(s, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // (idx, v) band rows carry the full sketch alongside — a map-side
    // zip-explode of the per-doc frame, where the former band-row
    // form re-joined a separately grouped sb list back onto itself
    val bands = sigs
      .select(col("doc_id"), col("mime"), col("sb"),
        explode(arrays_zip(col("idxs"), col("sb"))).as("z"))
      .select(col("doc_id"), col("mime"), col("sb"),
        col("z.idxs").as("idx"), col("z.sb").as("v"))
    val out = bands.as("x")
      .join(bands.as("y"),
        col("x.mime") === col("y.mime") && col("x.idx") === col("y.idx") &&
          col("x.v") === col("y.v") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.mime").as("mime"), col("x.doc_id").as("ia"),
        col("y.doc_id").as("ib"), col("x.sb").as("sba"), col("y.sb").as("sbb"))
      .withColumn("hamming",
        graft.functions.HashFns.bandHamming(col("sba"), col("sbb"), PhashBands))
      .filter(col("hamming") <= PhashRadius)
      .dropDuplicates("ia", "ib")
      .select(col("mime"), col("ia"), col("ib"), col("hamming"))
      .localCheckpoint() // pair-sized; release the cached sketches
    sigs.unpersist()
    out
  }

  /** DuckDB twin: same integer slice-mean bits, band fold, within-mime
    * band-key self-join, xor/bit_count Hamming. */
  val mmPhashDedupSql: String = {
    val ham = (1 to PhashBands).map(i => s"bit_count(xor(a.sb[$i], b.sb[$i]))").mkString(" + ")
    s"""WITH m AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 3 = 0 THEN 'image/png'
       |         WHEN doc_id % 3 = 1 THEN 'audio/wav'
       |         ELSE 'video/mp4' END AS mime,
       |    text, strlen(text) AS len
       |  FROM documents
       |  UNION ALL
       |  SELECT doc_id + $PlantOffset,
       |    CASE WHEN doc_id % 3 = 0 THEN 'image/png'
       |         WHEN doc_id % 3 = 1 THEN 'audio/wav'
       |         ELSE 'video/mp4' END AS mime,
       |    replace(text, 'e', 'f') AS text, strlen(text) AS len
       |  FROM documents WHERE doc_id % $PlantMod = $PlantRes),
       |v AS (
       |  SELECT doc_id, mime, len,
       |    CAST(floor((i * $PhashBits)::DOUBLE / len) AS BIGINT) AS slice,
       |    ascii(substr(text, CAST(i + 1 AS INT), 1)) AS v
       |  FROM (SELECT doc_id, mime, len, text, unnest(range(len)) AS i FROM m)),
       |sl AS (
       |  SELECT doc_id, mime, len, slice, sum(v)::BIGINT AS sv, count(*)::BIGINT AS nv
       |  FROM v GROUP BY 1, 2, 3, 4),
       |tot AS (SELECT doc_id, sum(sv)::BIGINT AS st FROM sl GROUP BY 1),
       |bandv AS (
       |  SELECT sl.doc_id, mime, slice // $PhashBandBits AS idx,
       |    CAST(sum(CASE WHEN sv * len > st * nv
       |      THEN (1::BIGINT << CAST(${PhashBandBits - 1} - (slice % $PhashBandBits) AS INT))
       |      ELSE 0 END) AS BIGINT) AS v
       |  FROM sl JOIN tot USING (doc_id) GROUP BY 1, 2, 3),
       |sb AS (SELECT doc_id, mime, list(v ORDER BY idx) AS sb FROM bandv GROUP BY 1, 2),
       |cand AS (
       |  SELECT DISTINCT x.mime AS mime, x.doc_id AS ia, y.doc_id AS ib
       |  FROM bandv x JOIN bandv y
       |    ON x.mime = y.mime AND x.idx = y.idx AND x.v = y.v AND x.doc_id < y.doc_id)
       |SELECT mime, ia, ib, hamming FROM (
       |  SELECT cand.mime, ia, ib, $ham AS hamming
       |  FROM cand
       |  JOIN sb a ON a.doc_id = cand.ia
       |  JOIN sb b ON b.doc_id = cand.ib)
       |WHERE hamming <= $PhashRadius""".stripMargin
  }

  /** Patch grid for [[mmPatchEmbed]] — the 4×4 byte-domain analog of
    * an image pipeline's downsample-grid feature pass. */
  val PatchN = 16

  /** K104: PATCH-PROFILE FEATURES — the downsample-grid feature
    * extraction an image pipeline runs per image (8×8 luma means)
    * computed in the byte domain over the image/png payloads: each
    * payload is cut into [[PatchN]] equal patches, the patch feature
    * is its exact per-mille byte mean (sv·1000 div nv — integer, so
    * the whole feature path rides the hash gate), and the corpus
    * read is the per-(source, patch) profile — n_docs, average patch
    * mean — plus the per-source average CONTRAST (max−min patch mean
    * per doc): the light-level/structure summary that catches a
    * source whose images are systematically washed out before any
    * model sees them.
    *
    * Scale shape: the per-byte explode is the decode-analog MAP-SIDE
    * stage (payload bytes never shuffle — the [[phashBands]]
    * contract); what shuffles is (doc, patch) partial sums, then
    * (source, patch) cells — bounded by docs × [[PatchN]] and
    * sources × [[PatchN]]. Swapping the byte kernel for real luma
    * decode changes only the per-byte projection. */
  def mmPatchEmbed(s: SparkSession, dir: String): DataFrame = {
    // the (doc, patch) cells come out of ONE [[graft.plans.PatchSums]]
    // pass per payload — no per-byte explode, no corpus-bytes
    // aggregate; the first exchange is the (source, patch) roll-up
    // below (OPTIMIZATION_r14.md row 14)
    val perPatch = documents(s, dir).filter(col("doc_id") % 3 === 0)
      .select(col("doc_id"), col("source"),
        encode(col("text"), "UTF-8").as("payload"))
      .withColumn("len", length(col("payload")))
      .filter(col("len") > 0) // sequence() descends on empty payloads
      .select(col("doc_id"), col("source"),
        explode(call_function("patch_sums", col("payload"), lit(PatchN))).as("c"))
      .select(col("doc_id"), col("source"), col("c.k").as("patch"),
        expr("(c.sv * 1000) div c.nv").as("pm"))
    val srcPatch = perPatch.groupBy(col("source"), col("patch"))
      .agg(count(lit(1)).as("n_docs"), sum(col("pm")).as("spm"))
      .withColumn("avg_pm", expr("spm div n_docs")).drop("spm")
    val srcContrast = perPatch.groupBy(col("doc_id"), col("source"))
      .agg((max(col("pm")) - min(col("pm"))).as("contrast"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n"), sum(col("contrast")).as("sc"))
      .withColumn("contrast_pm", expr("sc div n"))
      .select(col("source"), col("contrast_pm"))
    srcPatch.join(srcContrast, Seq("source"))
  }

  val mmPatchEmbedSql: String =
    s"""WITH imgs AS (
       |  SELECT doc_id, source, text, strlen(text) AS len
       |  FROM documents WHERE doc_id % 3 = 0),
       |b AS (
       |  SELECT doc_id, source,
       |    CAST(floor((i * $PatchN)::DOUBLE / len) AS BIGINT) AS patch,
       |    ascii(substr(text, CAST(i + 1 AS INT), 1)) AS v
       |  FROM (SELECT doc_id, source, text, len, unnest(range(len)) AS i FROM imgs)),
       |pp AS (
       |  SELECT doc_id, source, patch,
       |    (sum(v)::BIGINT * 1000) // count(*) AS pm
       |  FROM b GROUP BY 1, 2, 3),
       |sp AS (
       |  SELECT source, patch, count(*) AS n_docs,
       |    sum(pm)::BIGINT // count(*) AS avg_pm
       |  FROM pp GROUP BY 1, 2),
       |ct AS (
       |  SELECT source, sum(c)::BIGINT // count(*) AS contrast_pm FROM (
       |    SELECT doc_id, source, max(pm) - min(pm) AS c
       |    FROM pp GROUP BY 1, 2)
       |  GROUP BY source)
       |SELECT source, patch, n_docs, avg_pm, contrast_pm
       |FROM sp JOIN ct USING (source)""".stripMargin

  /** One decoded record — the typed batch-output schema. */
  case class Decoded(doc_id: Long, mime: String, n_bytes: Int, features: Array[Double])

  /** The STUB decode kernel: first 8 payload bytes scaled to [0,1].
    * This is the one function a real deployment replaces with a
    * codec call; signature (bytes in, features out) is the real one. */
  def decodeStub(payload: Array[Byte]): Array[Double] =
    payload.take(8).map(b => (b & 0xff) / 255.0)

  /** F2: decode via partition-batch iteration through a typed
    * Dataset — the Spark-side plumbing (encoders, schema,
    * partitioning) is production-shaped; only the kernel is fake. */
  def mmDecode(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = mediaTable(s, dir)
      .select(col("doc_id"), col("payload"), col("meta.mime").as("mime"))
      .as[(Long, Array[Byte], String)]
    val decoded: Dataset[Decoded] = media.mapPartitions { batch =>
      batch.map { case (id, payload, mime) =>
        Decoded(id, mime, payload.length, decodeStub(payload))
      }
    }
    decoded.select(
      (col("doc_id") +: col("mime") +: col("n_bytes") +:
        (0 until 8).map(i =>
          graft.Portable.pround(element_at(col("features"), i + 1), 4).as(s"f$i"))): _*)
  }

  val mmDecodeSql: String = {
    val fs = (0 until 8)
      .map(i => s"floor((ascii(substr(text, ${i + 1}, 1)) / 255.0) * 10000.0 + 0.5) / 10000.0 AS f$i")
      .mkString(",\n  ")
    s"""SELECT doc_id,
       |  CASE WHEN doc_id % 3 = 0 THEN 'image/png'
       |       WHEN doc_id % 3 = 1 THEN 'audio/wav'
       |       ELSE 'video/mp4' END AS mime,
       |  strlen(text) AS n_bytes,
       |  $fs
       |FROM documents""".stripMargin
  }

  val FrameBytes = 32
  val FrameStride = 4

  /** F3: deterministic frame/chunk sampling — split the payload into
    * [[FrameBytes]]-byte frames, keep every [[FrameStride]]-th.
    * Pure column algebra (sequence → filter → explode → substring):
    * codegen'd, map-only, no kernel at all. */
  def mmFramesample(s: SparkSession, dir: String): DataFrame =
    mediaTable(s, dir)
      .select(col("doc_id"), col("payload"),
        explode(filter(
          sequence(lit(0), floor((length(col("payload")) - 1) / FrameBytes).cast("int")),
          i => i % FrameStride === 0)).as("frame_idx"))
      .select(
        col("doc_id"), col("frame_idx"),
        length(col("payload").substr(col("frame_idx") * FrameBytes + 1, lit(FrameBytes)))
          .as("frame_len"),
        ascii(decode(col("payload").substr(col("frame_idx") * FrameBytes + 1, lit(1)), "UTF-8"))
          .as("first_byte"))

  val mmFramesampleSql: String =
    s"""SELECT doc_id, frame_idx,
       |  strlen(substr(text, frame_idx * $FrameBytes + 1, $FrameBytes)) AS frame_len,
       |  ascii(substr(text, frame_idx * $FrameBytes + 1, 1)) AS first_byte
       |FROM (
       |  SELECT doc_id, text, unnest(range(0, (strlen(text) - 1) // $FrameBytes + 1)) AS frame_idx
       |  FROM documents)
       |WHERE frame_idx % $FrameStride = 0""".stripMargin

  /** VAD frame width (bytes ≙ 8-bit samples). */
  val VadFrame = 16

  /** K99: ENERGY-BASED VAD SEGMENTATION — the audio-side structure
    * pass (voice-activity detection) over the `audio/wav` payloads:
    * per [[VadFrame]]-byte frame, an integer energy (Σ (sample−32)²
    * over the frame's bytes — 32 is the corpus's silence byte, the
    * deterministic stand-in for a DC offset), frames zeroed on a
    * doc-keyed cadence (idx ≡ doc_id mod 3 — the planted-silence
    * convention: the container has no real audio, so silence is
    * synthesized deterministically like scrub_pii's planted PII),
    * then the CONTIGUOUS active segments recovered with the
    * islands-and-gaps window (grp = idx − row_number over active
    * frames) — per payload: frame/active counts, segment count,
    * longest run, total energy. This is the shape a speech pipeline
    * runs before chunking audio for ASR: map-side frame explode +
    * energy fold (codegen'd HOF, no UDF), ONE doc-keyed window for
    * the islands, one aggregate — shuffle ∝ active frames. All
    * integer → full hash-gate oracle. */
  /** Blur threshold on the ×1000 per-position Laplacian energy —
    * probed on the corpus (min 5.9M, p10 6.52M, max 7.5M): flags the
    * low-frequency ~10-15% tail. */
  val BlurThresh = 6600000L

  /** K118: BLUR SCREEN — the sharpness gate an image pipeline runs
    * before spending training compute (variance-of-Laplacian, the
    * classic OpenCV blur detector): per image payload, the 1-D
    * second-difference energy over the byte codes
    * Σ (b[i−1] − 2·b[i] + b[i+1])², its exact ×1000 per-position
    * rate, and the blurry flag at [[BlurThresh]] (low high-frequency
    * energy = blur). The byte kernel is the F2 stub convention — a
    * real decoder swaps in one function and the Spark side (binary
    * scan, per-payload HOF fold, map-only plan) is already the 100 TB
    * shape: no shuffle at all, the report is payload-count-sized.
    * All-integer arithmetic → full hash-gate oracle. */
  /** Adds `lap_q` and `lap_per_pos` (×1000 per-position Laplacian
    * energy) to a frame with a text column `t` — the byte kernel
    * shared by [[mmBlurDetect]] and the streaming media gate
    * ([[graft.streaming.StreamMediaGate]]). Drops payloads shorter
    * than 3 bytes (no interior position). */
  private[graft] def withLap(df: DataFrame): DataFrame =
    // one codegen [[graft.plans.LapEnergy]] code-point pass instead of
    // six interpreted element_at + ascii evaluations per interior
    // position (OPTIMIZATION_r14.md row 4); length(t) counts code
    // points
    df.filter(length(col("t")) >= 3)
      .withColumn("lap_q", call_function("lap_energy", col("t")))
      .withColumn("lap_per_pos", expr("(lap_q * 1000) div (length(t) - 2)"))

  def mmBlurDetect(s: SparkSession, dir: String): DataFrame =
    withLap(mediaTable(s, dir)
      .filter(col("meta.mime") === "image/png")
      .select(col("doc_id"), col("meta.n_bytes").as("n_bytes"),
        decode(col("payload"), "UTF-8").as("t")))
      .select(col("doc_id"), col("n_bytes"), col("lap_q"), col("lap_per_pos"),
        (col("lap_per_pos") < BlurThresh).as("blurry"))

  val mmBlurDetectSql: String =
    s"""WITH a AS (
       |  SELECT doc_id, strlen(text)::BIGINT AS n_bytes, text AS t
       |  FROM documents WHERE doc_id % 3 = 0),
       |c AS (
       |  SELECT doc_id, n_bytes,
       |    list_filter(string_split(t, ''), x -> x <> '') AS cs
       |  FROM a),
       |l AS (
       |  SELECT doc_id, n_bytes, len(cs) AS n,
       |    list_sum(list_transform(
       |      [ascii(cs[i-1]) - 2*ascii(cs[i]) + ascii(cs[i+1])
       |       for i in range(2, len(cs))],
       |      d -> (d * d)::BIGINT))::BIGINT AS lap_q
       |  FROM c WHERE len(cs) >= 3)
       |SELECT doc_id, n_bytes, lap_q,
       |  (lap_q * 1000 // (n - 2))::BIGINT AS lap_per_pos,
       |  lap_q * 1000 // (n - 2) < $BlurThresh AS blurry
       |FROM l""".stripMargin

  /** Planted image dimensions for [[mmAspectFilter]] — deterministic
    * doc_id arithmetic (the mime-assignment convention): width
    * 64..640, height 64..416 on independent mod lattices, so every
    * rule class has real members at every scale. */
  private def widthCol = lit(64) + (col("doc_id") % 37).cast("int") * 16
  private def heightCol = lit(64) + (col("doc_id") % 23).cast("int") * 16

  /** Admission thresholds for [[mmAspectFilter]]: LAION-style
    * geometry rules — minimum side, max aspect ratio (×10), and a
    * bytes-per-kilopixel floor (a payload far smaller than its
    * claimed dimensions is a decode bomb or a junk thumbnail). */
  val MmMinSide = 128
  val MmMaxAspectX10 = 25L
  val MmMinBytesPerKpx = 1L

  /** K126: IMAGE GEOMETRY ADMISSION — the metadata-only gate a
    * multimodal curation pipeline runs BEFORE decoding anything
    * (the LAION-style width/height/aspect filter; K118
    * mm_blur_detect assumes its survivors): per image payload,
    * FIRST-MATCH verdict over planted dimensions — side under
    * [[MmMinSide]] > aspect over [[MmMaxAspectX10]]/10 > payload
    * bytes under [[MmMinBytesPerKpx]] per kilopixel > keep — then
    * the per-verdict rollup (items, bytes, per-mille share). All
    * arithmetic exact integers (aspect as max·10 div min, bpkp as
    * bytes·1000 div pixels). Map-only classification + one tiny
    * verdict aggregate — payloads never decode, never shuffle; at
    * 100 TB this is the metadata scan that saves the decode fleet. */
  def mmAspectFilter(s: SparkSession, dir: String): DataFrame = {
    val imgs = mediaTable(s, dir)
      .filter(col("meta.mime") === "image/png")
      .select(col("doc_id"), col("meta.n_bytes").as("n_bytes"),
        widthCol.as("w"), heightCol.as("h"))
      .withColumn("aspect_x10",
        expr("(greatest(w, h) * 10L) div least(w, h)"))
      .withColumn("bytes_per_kpx",
        expr("(n_bytes * 1000L) div (w * h)"))
      .withColumn("verdict",
        when(least(col("w"), col("h")) < MmMinSide, "drop_small")
          .when(col("aspect_x10") > MmMaxAspectX10, "drop_aspect")
          .when(col("bytes_per_kpx") < MmMinBytesPerKpx, "drop_thin")
          .otherwise("keep"))
    val byV = imgs.groupBy(col("verdict"))
      .agg(count(lit(1)).as("n_items"), sum(col("n_bytes")).as("total_bytes"))
      .localCheckpoint() // ≤ 4 rows; the total derives from it, so
                         // the metadata scans ONCE (PlanSpec-gated)
    val tot = byV.agg(sum(col("n_items")).as("n_total"))
    byV.crossJoin(broadcast(tot)) // 1-row scalar frame
      .select(col("verdict"), col("n_items"), col("total_bytes"), col("n_total"),
        expr("(n_items * 1000) div n_total").as("share_permille"))
  }

  val mmAspectFilterSql: String =
    s"""WITH i AS (
       |  SELECT doc_id, strlen(text)::BIGINT AS n_bytes,
       |    64 + (doc_id % 37) * 16 AS w,
       |    64 + (doc_id % 23) * 16 AS h
       |  FROM documents WHERE doc_id % 3 = 0),
       |c AS (
       |  SELECT *,
       |    (greatest(w, h) * 10) // least(w, h) AS aspect_x10,
       |    (n_bytes * 1000) // (w * h) AS bytes_per_kpx
       |  FROM i),
       |v AS (
       |  SELECT *,
       |    CASE WHEN least(w, h) < $MmMinSide THEN 'drop_small'
       |         WHEN aspect_x10 > $MmMaxAspectX10 THEN 'drop_aspect'
       |         WHEN bytes_per_kpx < $MmMinBytesPerKpx THEN 'drop_thin'
       |         ELSE 'keep' END AS verdict
       |  FROM c),
       |b AS (
       |  SELECT verdict, count(*) AS n_items, sum(n_bytes)::BIGINT AS total_bytes
       |  FROM v GROUP BY 1),
       |t AS (SELECT sum(n_items)::BIGINT AS n_total FROM b)
       |SELECT verdict, n_items, total_bytes, n_total,
       |  (n_items * 1000 // n_total)::BIGINT AS share_permille
       |FROM b, t""".stripMargin

  def mmEnergyVad(s: SparkSession, dir: String): DataFrame = {
    val audio = mediaTable(s, dir)
      .filter(col("meta.mime") === "audio/wav")
      .select(col("doc_id"), decode(col("payload"), "UTF-8").as("t"))
      .withColumn("nf", expr(s"(length(t) + ${VadFrame - 1}) div $VadFrame"))
      // sequence() descends on empty payloads — see phashBands
      .filter(col("nf") > 0)
    // the Σ(cp−32)² frame energy from [[graft.plans.BandEnergies]] at
    // bands = 1 (band 0 of one band IS the whole-frame energy), not an
    // interpreted HOF fold (OPTIMIZATION_r14.md row 5)
    val energyCol = element_at(call_function("band_energies", col("frame"), lit(1)), 1)
    val frames = audio
      .select(col("doc_id"), col("nf"),
        explode(sequence(lit(0L), col("nf") - 1)).as("idx"),
        col("t"))
      .withColumn("frame",
        expr(s"substring(t, CAST(idx * $VadFrame + 1 AS INT), $VadFrame)"))
      .withColumn("energy", when(pmod(col("idx"), lit(3L)) === pmod(col("doc_id"), lit(3L)), 0L)
        .otherwise(energyCol))
      .select(col("doc_id"), col("nf"), col("idx"), col("energy"))
    val active = frames.filter(col("energy") > 0)
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("idx"))
    val segs = active
      .withColumn("grp", col("idx") - row_number().over(wDoc))
      .groupBy(col("doc_id"), col("grp"))
      .agg(count(lit(1)).as("run"), sum(col("energy")).as("e"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_segments"), sum(col("run")).as("n_active"),
        max(col("run")).as("max_run"), sum(col("e")).as("total_energy"))
    audio.select(col("doc_id"), col("nf").as("n_frames"))
      .join(segs, Seq("doc_id"), "left_outer")
      .na.fill(0L, Seq("n_segments", "n_active", "max_run", "total_energy"))
  }

  val mmEnergyVadSql: String =
    s"""WITH a AS (
       |  SELECT doc_id, text AS t,
       |    (strlen(text) + ${VadFrame - 1}) // $VadFrame AS nf
       |  FROM documents WHERE doc_id % 3 = 1),
       |f AS (
       |  SELECT doc_id, nf, unnest(range(0, nf))::BIGINT AS idx, t FROM a),
       |e AS (
       |  SELECT doc_id, nf, idx,
       |    CASE WHEN idx % 3 = doc_id % 3 THEN 0
       |         ELSE list_reduce(list_prepend(0::BIGINT,
       |           [(ascii(c)::BIGINT - 32) * (ascii(c)::BIGINT - 32)
       |            for c in list_filter(
       |              string_split(substr(t, (idx * $VadFrame + 1)::INT, $VadFrame), ''),
       |              c -> c <> '')]),
       |           (acc, x) -> acc + x) END AS energy
       |  FROM f),
       |act AS (
       |  SELECT doc_id, idx, energy,
       |    idx - row_number() OVER (PARTITION BY doc_id ORDER BY idx) AS grp
       |  FROM e WHERE energy > 0),
       |seg AS (
       |  SELECT doc_id, grp, count(*) AS run, sum(energy)::BIGINT AS e
       |  FROM act GROUP BY 1, 2),
       |per AS (
       |  SELECT doc_id, count(*) AS n_segments, sum(run)::BIGINT AS n_active,
       |    max(run) AS max_run, sum(e)::BIGINT AS total_energy
       |  FROM seg GROUP BY 1)
       |SELECT a.doc_id, a.nf AS n_frames,
       |  coalesce(p.n_segments, 0)::BIGINT AS n_segments,
       |  coalesce(p.n_active, 0)::BIGINT AS n_active,
       |  coalesce(p.max_run, 0)::BIGINT AS max_run,
       |  coalesce(p.total_energy, 0)::BIGINT AS total_energy
       |FROM a LEFT JOIN per p USING (doc_id)""".stripMargin

  /** clip_gate admission floor: keep iff cos(image, text) ≥ 0.05 —
    * expressed as the squared cross-multiplied test dot ≥ 0 ∧
    * [[ClipCos2Den]]·dot² ≥ ‖a‖²·‖b‖², so the gate never touches a
    * sqrt or a float. (LAION ships 0.28 for real CLIP towers; the
    * byte-domain stand-in towers have a wider spread — 0.05 splits
    * this corpus ~47/53, measured.) */
  val ClipCos2Den = 400L

  /** K134: CLIP-SCORE GATE — the LAION-400M/5B admission filter
    * (Schuhmann et al., 2021): an image-text pair enters the corpus
    * only if the cosine between its image-tower and text-tower
    * embeddings clears a floor; everything below is presumed
    * caption/image mismatch. Towers here: image = the K104
    * patch-profile features (16 per-mille patch byte-means — the
    * documented real-decoder swap-point), text = the doc's embedding
    * folded 64→16 by exact-integer group-of-4 sums of the
    * emb_quantize ×10⁴ lattice. Because both towers are exact
    * integer vectors, the score and the gate run in pure integer
    * algebra: dot, ‖a‖², ‖b‖² accumulate in one aggregate, and
    * cos ≥ t tests as dot ≥ 0 ∧ dot²·[[ClipCos2Den]] ≥ ‖a‖²·‖b‖² in
    * DECIMAL(38,0)/HUGEINT (the vocab_drift convention — dot² tops
    * ~2⁸¹ here, past BIGINT) — no sqrt, no float, hash-exact.
    *
    * Shape: towers align on the (patch = fold-group) index, so the
    * score is ONE doc-keyed equi-join + one 3-sum aggregate — no
    * arrays materialize, payloads never shuffle (the phashBands
    * contract), and the whole gate is rows-linear at any scale.
    * Swapping real CLIP towers changes only the two tower
    * projections. */
  def clipGate(s: SparkSession, dir: String): DataFrame = {
    // per-doc patch cells in one [[graft.plans.PatchSums]] pass, the
    // mmPatchEmbed form — no per-byte explode/aggregate
    // (OPTIMIZATION_r14.md row 14)
    val imgTower = documents(s, dir).filter(col("doc_id") % 3 === 0)
      .select(col("doc_id"), col("source"),
        encode(col("text"), "UTF-8").as("payload"))
      .withColumn("len", length(col("payload")))
      .filter(col("len") > 0) // sequence() descends on empty payloads
      .select(col("doc_id"), col("source"),
        explode(call_function("patch_sums", col("payload"), lit(PatchN))).as("c"))
      .select(col("doc_id"), col("source"), col("c.k").as("k"),
        expr("(c.sv * 1000) div c.nv").as("pm"))
    val txtTower = embeddings(s, dir)
      .select(col("vec_id").as("doc_id"),
        posexplode(col("embedding")).as(Seq("j", "x")))
      .select(col("doc_id"), (col("j") / 4).cast("long").as("k"),
        floor(col("x").cast("double") * 10000 + 0.5).cast("long").as("q"))
      .groupBy(col("doc_id"), col("k"))
      .agg(sum(col("q")).as("sq"))
    imgTower.join(txtTower, Seq("doc_id", "k"))
      .groupBy(col("doc_id"), col("source"))
      .agg(sum(col("pm") * col("sq")).as("dot"),
        sum(col("pm") * col("pm")).as("na2"),
        sum(col("sq") * col("sq")).as("nb2"))
      .withColumn("kept", expr(
        s"""dot >= 0 AND
           |CAST(dot AS DECIMAL(38,0)) * dot * $ClipCos2Den >=
           |CAST(na2 AS DECIMAL(38,0)) * nb2""".stripMargin))
      .select(col("doc_id"), col("source"), col("dot"), col("na2"),
        col("nb2"), col("kept"))
  }

  val clipGateSql: String =
    s"""WITH imgs AS (
       |  SELECT doc_id, source, text, strlen(text) AS len
       |  FROM documents WHERE doc_id % 3 = 0 AND strlen(text) > 0),
       |it AS (
       |  SELECT doc_id, source, k, (sum(v)::BIGINT * 1000) // count(*) AS pm
       |  FROM (
       |    SELECT doc_id, source,
       |      CAST(floor((i * $PatchN)::DOUBLE / len) AS BIGINT) AS k,
       |      ascii(substr(text, CAST(i + 1 AS INT), 1)) AS v
       |    FROM (SELECT doc_id, source, text, len, unnest(range(len)) AS i
       |          FROM imgs))
       |  GROUP BY 1, 2, 3),
       |tt AS (
       |  SELECT doc_id, k, sum(q)::BIGINT AS sq FROM (
       |    SELECT vec_id AS doc_id, (generate_subscripts(embedding, 1) - 1) // 4 AS k,
       |      CAST(floor(unnest(embedding)::DOUBLE * 10000 + 0.5) AS BIGINT) AS q
       |    FROM embeddings)
       |  GROUP BY 1, 2),
       |sc AS (
       |  SELECT doc_id, source,
       |    sum(pm * sq)::BIGINT AS dot,
       |    sum(pm * pm)::BIGINT AS na2,
       |    sum(sq * sq)::BIGINT AS nb2
       |  FROM it JOIN tt USING (doc_id, k)
       |  GROUP BY 1, 2)
       |SELECT doc_id, source, dot, na2, nb2,
       |  (dot >= 0 AND
       |   dot::HUGEINT * dot * $ClipCos2Den >= na2::HUGEINT * nb2) AS kept
       |FROM sc""".stripMargin

  /** Scene-cut frame width (bytes per synthetic video frame) and the
    * planted-shot cadence / content threshold. */
  val SceneFrame = 32
  val SceneShotLen = 5
  val SceneCutThreshold = 500L

  /** K140: CONTENT-BASED SCENE-CUT DETECTION — the PySceneDetect
    * ContentDetector pass a video curation pipeline runs before clip
    * sampling (video-LLM corpora cut clips at scene boundaries, not
    * mid-shot, so frames within a training clip are visually
    * coherent): per frame an integer luma proxy (byte-sum fold over
    * the [[SceneFrame]]-byte frame — the real decoder's mean-HSL swap
    * point, the VAD kernel convention), shots PLANTED as a brightness
    * step every [[SceneShotLen]] frames (level cycles (idx div 5 +
    * doc_id) mod 3 at +1000/level — the planted-silence convention:
    * no codecs in the container), a cut flagged when the
    * frame-to-frame luma delta reaches [[SceneCutThreshold]]. Per
    * video: frames, cuts, shots (cut-run segmentation via the
    * cumulative-flag window), longest shot, mean shot length in
    * frames-per-mille. All integer -> full hash-gate oracle.
    *
    * Scale shape: frame explode + luma fold are map-side (payloads
    * never shuffle -- frames carry doc_id, idx, one long); the lag and
    * cumulative-cut windows are doc-keyed (frames-per-payload bounded
    * by payload size, never corpus-wide); two combining aggregates
    * end the plan. At 100 TB this is the per-shard frame scan it is
    * in production, shuffle volume ∝ frames x 24 bytes. */
  def sceneCut(s: SparkSession, dir: String): DataFrame = {
    val video = mediaTable(s, dir)
      .filter(col("meta.mime") === "video/mp4")
      .select(col("doc_id"), decode(col("payload"), "UTF-8").as("t"))
      .withColumn("nf", expr(s"(length(t) + ${SceneFrame - 1}) div $SceneFrame"))
      .filter(col("nf") > 0) // sequence() descends on empty payloads
    // the codegen [[graft.plans.CpSum]] code-point loop, not an
    // interpreted HOF fold (OPTIMIZATION_r14.md row 6)
    val lumaBase = call_function("cp_sum", col("frame"))
    val frames = video
      .select(col("doc_id"), explode(sequence(lit(0L), col("nf") - 1)).as("idx"), col("t"))
      .withColumn("frame",
        expr(s"substring(t, CAST(idx * $SceneFrame + 1 AS INT), $SceneFrame)"))
      .withColumn("luma", lumaBase
          + lit(1000L) * pmod(expr(s"idx div $SceneShotLen") + col("doc_id"), lit(3L)))
      .select(col("doc_id"), col("idx"), col("luma"))
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("idx"))
    val flagged = frames
      .withColumn("prev", lag(col("luma"), 1).over(wDoc))
      .withColumn("cut",
        when(col("prev").isNotNull &&
          abs(col("luma") - col("prev")) >= SceneCutThreshold, 1L).otherwise(0L))
      .withColumn("shot", sum(col("cut")).over(wDoc))
    // the whole report derives from the shot-length cells alone:
    // shot ids are 0..n_cuts, so n_cuts = n_shots - 1 and
    // n_frames = Σ len — ONE pass, no self-join of the frame pipeline
    flagged.groupBy(col("doc_id"), col("shot"))
      .agg(count(lit(1)).as("len"))
      .groupBy(col("doc_id"))
      .agg(sum(col("len")).as("n_frames"), count(lit(1)).as("n_shots"),
        max(col("len")).as("max_shot"))
      .select(col("doc_id"), col("n_frames"),
        (col("n_shots") - 1).as("n_cuts"), col("n_shots"), col("max_shot"),
        expr("(n_frames * 1000) div n_shots").as("avg_shot_pm"))
  }

  val sceneCutSql: String =
    s"""WITH v AS (
       |  SELECT doc_id, text AS t,
       |    (strlen(text) + ${SceneFrame - 1}) // $SceneFrame AS nf
       |  FROM documents WHERE doc_id % 3 = 2),
       |f AS (SELECT doc_id, unnest(range(0, nf))::BIGINT AS idx, t FROM v),
       |l AS (
       |  SELECT doc_id, idx,
       |    list_reduce(list_prepend(0::BIGINT,
       |      [ascii(c)::BIGINT for c in list_filter(
       |        string_split(substr(t, (idx * $SceneFrame + 1)::INT, $SceneFrame), ''),
       |        c -> c <> '')]),
       |      (acc, x) -> acc + x)
       |    + 1000 * ((idx // $SceneShotLen + doc_id) % 3) AS luma
       |  FROM f),
       |c AS (
       |  SELECT doc_id, idx, luma,
       |    lag(luma) OVER (PARTITION BY doc_id ORDER BY idx) AS prev
       |  FROM l),
       |g AS (
       |  SELECT doc_id, idx,
       |    CASE WHEN prev IS NOT NULL AND abs(luma - prev) >= $SceneCutThreshold
       |         THEN 1 ELSE 0 END AS cut
       |  FROM c),
       |sflag AS (
       |  SELECT doc_id, idx, cut,
       |    sum(cut) OVER (PARTITION BY doc_id ORDER BY idx
       |      ROWS UNBOUNDED PRECEDING) AS shot
       |  FROM g),
       |sh AS (SELECT doc_id, shot, count(*) AS len FROM sflag GROUP BY 1, 2),
       |per AS (
       |  SELECT doc_id, count(*)::BIGINT AS n_shots, max(len)::BIGINT AS max_shot
       |  FROM sh GROUP BY 1),
       |agg AS (
       |  SELECT doc_id, count(*)::BIGINT AS n_frames, sum(cut)::BIGINT AS n_cuts
       |  FROM sflag GROUP BY 1)
       |SELECT a.doc_id, a.n_frames, a.n_cuts, p.n_shots, p.max_shot,
       |  (a.n_frames * 1000 // (a.n_cuts + 1))::BIGINT AS avg_shot_pm
       |FROM agg a JOIN per p USING (doc_id)""".stripMargin

  /** Image token budget per planted image (a ViT-patch-grid stand-in:
    * interleaved trainers charge each <image> a fixed patch count). */
  val ImgTokens = 64L

  /** K143: INTERLEAVED IMAGE-TEXT ASSEMBLY — the OBELICS / MMC4 /
    * Flamingo document shape: images sit at in-document positions
    * between text segments, and the PACKING ledger per page — how many
    * image tokens vs text tokens, and the longest text run between
    * images — decides sequence-length budgeting before training (an
    * interleaved batch overflows its context not on text alone but on
    * text + 64·images). Pages planted deterministically: segments are
    * the 8-token I-line convention; doc d carries (d mod 3)+1 images
    * at segment positions (d + 3j) mod n_segs (DOM order, the OBELICS
    * convention — MMC4 would CLIP-match instead; position planting is
    * that step's deterministic stand-in). Per page: segments, distinct
    * image slots, text/image/total tokens, image token share (‰), and
    * the longest text-only run (segments before the first image,
    * between consecutive images, after the last — the runs sum to
    * n_segs, the spec's conservation check).
    *
    * Scale shape: map-ONLY — positions, gaps and runs are per-row
    * array algebra (sort/distinct/zip_with over a ≤3-element array);
    * no shuffle at all (html_extract posture, PlanSpec-gated); at
    * 100 TB this is an embarrassingly-parallel scan. */
  def mmInterleave(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    val nsegs = col("n_segs")
    val ps = col("ps")
    documents(s, dir)
      .select(id, graft.functions.TextFns.wsTokens(col("text")).as("toks"))
      .withColumn("n_segs", greatest(
        ceil(size(col("toks")).cast("double") / 8).cast("long"), lit(1L)))
      .withColumn("ps", array_sort(array_distinct(
        transform(sequence(lit(0L), pmod(id, lit(3L))),
          j => pmod(id + j * 3L, nsegs)))))
      .withColumn("runs", concat(
        array(element_at(ps, 1)),
        zip_with(slice(ps, lit(1), size(ps) - 1), slice(ps, lit(2), size(ps) - 1),
          (a, b) => b - a),
        array(nsegs - element_at(ps, size(ps)))))
      .select(id, nsegs,
        size(ps).cast("long").as("n_imgs"),
        size(col("toks")).cast("long").as("text_tokens"),
        (size(ps) * ImgTokens).as("img_tokens"),
        (size(col("toks")) + size(ps) * ImgTokens).as("total_tokens"),
        expr(s"(size(ps) * $ImgTokens * 1000) div (size(toks) + size(ps) * $ImgTokens)")
          .as("img_share_pm"),
        array_max(col("runs")).as("max_text_run"))
  }

  val mmInterleaveSql: String =
    s"""WITH t AS (
       |  SELECT doc_id,
       |    list_filter(string_split(text, ' '), x -> x <> '') AS toks
       |  FROM documents),
       |seg AS (
       |  SELECT doc_id, toks,
       |    greatest(CAST(ceil(len(toks)::DOUBLE / 8) AS BIGINT), 1) AS n_segs
       |  FROM t),
       |pos AS (
       |  SELECT doc_id, toks, n_segs,
       |    list_sort(list_distinct(
       |      [(doc_id + j * 3) % n_segs for j in range(0, doc_id % 3 + 1)])) AS ps
       |  FROM seg),
       |runs AS (
       |  SELECT doc_id, toks, n_segs, ps,
       |    [ps[1]] || [ps[i + 1] - ps[i] for i in range(1, len(ps))]
       |      || [n_segs - ps[len(ps)]] AS rs
       |  FROM pos)
       |SELECT doc_id, n_segs,
       |  len(ps)::BIGINT AS n_imgs,
       |  len(toks)::BIGINT AS text_tokens,
       |  (len(ps) * $ImgTokens)::BIGINT AS img_tokens,
       |  (len(toks) + len(ps) * $ImgTokens)::BIGINT AS total_tokens,
       |  ((len(ps) * $ImgTokens * 1000) // (len(toks) + len(ps) * $ImgTokens))::BIGINT
       |    AS img_share_pm,
       |  list_max(rs)::BIGINT AS max_text_run
       |FROM runs""".stripMargin

  /** Landmark-fingerprint constants: frame width (bytes), band count
    * (byte-position folds per frame — the spectral-band stand-in),
    * target-zone width (frames), fan-out (pairs per anchor), and the
    * pair-report floor. */
  val AfFrame = 16
  val AfBands = 4
  val AfTz = 6
  val AfFan = 3
  val AfMinCommon = 5L
  /** Ubiquitous-hash cut: landmarks appearing in more than this many
    * distinct recordings carry no identification signal (Wang 2003's
    * "too common to be useful" drop — the DfCap posture) and are
    * removed BEFORE the match join, bounding per-hash fanout. */
  val AfDfCap = 32L
  /** Planted time-shifted twin: audio docs ≡ 4 (mod 9) get a copy at
    * doc_id + [[AfShiftBase]] prefixed with [[AfShiftFrames]] frames
    * of silence (the corpus silence byte 32 = ' '), so a true match
    * with a known alignment offset exists deterministically. */
  val AfShiftBase = 10000000L
  val AfShiftFrames = 2

  /** K159: AUDIO LANDMARK FINGERPRINTING — the Shazam constellation
    * algorithm (Wang, ISMIR 2003): per recording, pick spectral
    * PEAKS (robust to noise/codec), pair each anchor peak with
    * nearby peaks in a target zone, hash (band₁, band₂, Δt) +
    * coarse energies, then match recordings by joining hashes and
    * VOTING on the time offset t₁−t₂ — a true match concentrates
    * its votes at ONE offset (the alignment), noise scatters. The
    * decode stub convention (F2): with no real DSP in the container,
    * "bands" are byte-position folds of each [[AfFrame]]-byte frame
    * (Σ(byte−32)² over positions ≡ b mod [[AfBands]]) and peaks are
    * strict time-local maxima per (doc, band); the plumbing —
    * constellation, target-zone pairing with fan-out cap, packed
    * integer hash, ubiquitous-hash drop, offset-vote histogram,
    * argmax-encoded best offset — is the real algorithm, swap the
    * band kernel for an FFT and it IS Wang 2003. The hash packs the
    * EXACT peak energies (clamped to 2²⁰, exact shift-packing — no
    * modular hashing needed): the stub kernel is deterministic, so
    * identical content collides identically, and buckets shrink to
    * true repeats — a measured 80× (306 → ~4 s warm at sf0.1) over
    * the first form's 20-level ilog2 energies, whose hash space of
    * ~400k values made bucket fanout quadratic; a real DSP front-end
    * re-coarsens the energies HERE (the robustness knob Wang
    * quantizes for codec noise), trading bucket size for match
    * tolerance. Hashes in more than [[AfDfCap]] recordings are
    * dropped before the join (Wang's no-signal cut). The planted
    * shifted twin (above) pins the signature: landmarks shared, the
    * offset argmax at −[[AfShiftFrames]] on every twin.
    *
    * Shape: frame/band construction is map-only; peaks are one
    * (doc, band)-keyed window (shuffle ∝ frames); pairing is a
    * per-doc range self-join bounded by [[AfTz]]×[[AfBands]]
    * candidates per anchor, cut to [[AfFan]]; the df cut is one
    * h-keyed combining aggregate; matching is ONE hash-keyed
    * equi-join with per-hash fanout ≤ C([[AfDfCap]], 2) · in-doc
    * multiplicity, then a pair-keyed vote aggregate — nothing
    * pairwise over the corpus. */
  def audioFingerprint(s: SparkSession, dir: String): DataFrame = {
    val base = mediaTable(s, dir)
      .filter(col("meta.mime") === "audio/wav")
      .select(col("doc_id"), decode(col("payload"), "UTF-8").as("t"))
    val shifted = base.filter(col("doc_id") % 9 === 4)
      .select((col("doc_id") + AfShiftBase).as("doc_id"),
        concat(lit(" " * (AfFrame * AfShiftFrames)), col("t")).as("t"))
    val audio = base.unionByName(shifted)
    val frames = audio
      .withColumn("nf", expr(s"(length(t) + ${AfFrame - 1}) div $AfFrame"))
      .filter(col("nf") > 0)
      .select(col("doc_id"), explode(sequence(lit(0L), col("nf") - 1)).as("idx"),
        col("t"))
      .withColumn("frame",
        expr(s"substring(t, CAST(idx * $AfFrame + 1 AS INT), $AfFrame)"))
    // all [[AfBands]] energies in ONE code-point pass per frame via
    // the codegen'd [[graft.plans.BandEnergies]], not one interpreted
    // `aggregate` HOF per band (OPTIMIZATION_r13.md §5)
    val cells = frames.select(col("doc_id"), col("idx"),
      posexplode(call_function("band_energies", col("frame"), lit(AfBands.toLong)))
        .as(Seq("band", "energy")))
    val wBand = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"), col("band")).orderBy(col("idx"))
    val peaks = cells
      .withColumn("pl", coalesce(lag(col("energy"), 1).over(wBand), lit(-1L)))
      .withColumn("pn", coalesce(lead(col("energy"), 1).over(wBand), lit(-1L)))
      .filter(col("energy") > 0 && col("energy") > col("pl") &&
        col("energy") > col("pn"))
      .select(col("doc_id"), col("idx"), col("band"), col("energy"))
    val wAnchor = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"), col("t1"), col("b1"))
      .orderBy(col("dt"), col("b2"))
    val fps = peaks.as("a").join(peaks.as("p"),
        col("a.doc_id") === col("p.doc_id") &&
          col("p.idx") > col("a.idx") && col("p.idx") <= col("a.idx") + AfTz)
      .select(col("a.doc_id").as("doc_id"), col("a.idx").as("t1"),
        col("a.band").as("b1"), col("p.band").as("b2"),
        (col("p.idx") - col("a.idx")).as("dt"),
        col("a.energy").as("e1"), col("p.energy").as("e2"))
      .withColumn("rnk", row_number().over(wAnchor))
      .filter(col("rnk") <= AfFan)
      .select(col("doc_id"), col("t1"), expr(
        s"""((((b1 * $AfBands + b2) * ${AfTz + 1} + dt) * 1048576
           | + least(e1, 1048575L)) * 1048576
           | + least(e2, 1048575L))""".stripMargin).as("h"))
    // fps feeds the df cut and both sides of the match self-join, yet
    // stays unpersisted: exchange reuse already shares the identical
    // subtrees, and a persist measured worse warm (r14, sf0.1, 6
    // alternating rounds: med 2.055 s pinned vs 1.799 unpinned —
    // OPTIMIZATION_r14.md, "Negative results")
    val rare = fps.groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("dfh"))
      .filter(col("dfh") <= AfDfCap).select(col("h"))
    val kept = fps.join(rare, "h")
    val votes = kept.as("x").join(kept.as("y"),
        col("x.h") === col("y.h") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("da"), col("y.doc_id").as("db"),
        (col("x.t1") - col("y.t1")).as("off"))
      .agg(count(lit(1)).as("v"))
    votes.groupBy(col("da"), col("db"))
      .agg(sum(col("v")).as("n_common"),
        // argmax encode: (votes, smaller offset wins ties) — the
        // hard_negatives integer-argmax convention, shared verbatim
        // with the oracle
        max(col("v") * 1000000L + (lit(500000L) - col("off"))).as("enc"))
      .filter(col("n_common") >= AfMinCommon)
      .select(col("da"), col("db"), col("n_common"),
        expr("enc div 1000000").as("best_votes"),
        expr("500000 - (enc % 1000000)").as("best_offset"))
  }

  val audioFingerprintSql: String = {
    val bandList = (0 until AfBands).map { b =>
      s"""coalesce(list_sum([(ascii(substr(frame, p, 1))::BIGINT - 32)
         |      * (ascii(substr(frame, p, 1))::BIGINT - 32)
         |      for p in range(${b + 1}, length(frame) + 1, 4)]), 0)::BIGINT"""
        .stripMargin
    }.mkString(",\n       |    ")
    s"""WITH base AS (
       |  SELECT doc_id, text AS t FROM documents WHERE doc_id % 3 = 1),
       |audio AS (
       |  SELECT doc_id, t FROM base
       |  UNION ALL
       |  SELECT doc_id + $AfShiftBase, repeat(' ', ${AfFrame * AfShiftFrames}) || t
       |  FROM base WHERE doc_id % 9 = 4),
       |f AS (
       |  SELECT doc_id, unnest(range(0, (length(t) + ${AfFrame - 1}) // $AfFrame))::BIGINT AS idx, t
       |  FROM audio WHERE length(t) > 0),
       |fr AS (
       |  SELECT doc_id, idx, substr(t, (idx * $AfFrame + 1)::INT, $AfFrame) AS frame FROM f),
       |es AS (
       |  SELECT doc_id, idx,
       |    [$bandList] AS el
       |  FROM fr),
       |cells AS (
       |  SELECT doc_id, idx, b.b::BIGINT AS band, el[b.b + 1] AS energy
       |  FROM es, (SELECT unnest(range($AfBands)) AS b) b),
       |pk AS (
       |  SELECT doc_id, idx, band, energy FROM (
       |    SELECT doc_id, idx, band, energy,
       |      coalesce(lag(energy) OVER w, -1) AS pl,
       |      coalesce(lead(energy) OVER w, -1) AS pn
       |    FROM cells
       |    WINDOW w AS (PARTITION BY doc_id, band ORDER BY idx))
       |  WHERE energy > 0 AND energy > pl AND energy > pn),
       |fp AS (
       |  SELECT doc_id, t1,
       |    ((((b1 * $AfBands + b2) * ${AfTz + 1} + dt) * 1048576
       |      + least(e1, 1048575)) * 1048576
       |      + least(e2, 1048575))::BIGINT AS h
       |  FROM (
       |    SELECT a.doc_id, a.idx AS t1, a.band AS b1, p.band AS b2,
       |      p.idx - a.idx AS dt, a.energy AS e1, p.energy AS e2,
       |      row_number() OVER (PARTITION BY a.doc_id, a.idx, a.band
       |                         ORDER BY p.idx - a.idx, p.band) AS rnk
       |    FROM pk a JOIN pk p ON a.doc_id = p.doc_id
       |      AND p.idx > a.idx AND p.idx <= a.idx + $AfTz)
       |  WHERE rnk <= $AfFan),
       |rare AS (
       |  SELECT h FROM (SELECT h, count(DISTINCT doc_id) AS dfh FROM fp GROUP BY h)
       |  WHERE dfh <= $AfDfCap),
       |kept AS (SELECT fp.* FROM fp JOIN rare USING (h)),
       |votes AS (
       |  SELECT x.doc_id AS da, y.doc_id AS db, x.t1 - y.t1 AS off,
       |    count(*)::BIGINT AS v
       |  FROM kept x JOIN kept y ON x.h = y.h AND x.doc_id < y.doc_id
       |  GROUP BY 1, 2, 3)
       |SELECT da, db, sum(v)::BIGINT AS n_common,
       |  (max(v * 1000000 + (500000 - off)) // 1000000)::BIGINT AS best_votes,
       |  (500000 - (max(v * 1000000 + (500000 - off)) % 1000000))::BIGINT AS best_offset
       |FROM votes GROUP BY 1, 2
       |HAVING sum(v) >= $AfMinCommon""".stripMargin
  }
}
