package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Multimodal column plumbing (SURVEY.md §2.6): media payloads travel as
  * opaque `binary` columns with a typed metadata struct; decode /
  * feature-extraction runs as a partition-local batch transform
  * (`mapPartitions` over a typed Dataset — the Scala analogue of
  * `mapInPandas`: one iterator per partition, amortized per-batch setup,
  * executor-side only).
  *
  * The actual codec is STUBBED (this container has no image/audio libs):
  * [[StubDecoder]] derives deterministic fake dimensions from the bytes.
  * The Spark-side contract — schema, binary transport, partition batching,
  * decoder lifecycle (one per partition, like one Python worker per batch) —
  * is real and tested; swapping in a real codec changes only
  * [[MediaDecoder.decode]].
  */
object Multimodal {

  /** Typed metadata carried alongside the opaque payload. */
  case class MediaMeta(mimeType: String, nBytes: Long, sourceTable: String)

  case class MediaRow(doc_id: Long, media: Array[Byte], mimeType: String,
                      nBytes: Long, sourceTable: String)

  case class DecodedRow(doc_id: Long, nBytes: Long, width: Int, height: Int,
                        nFrames: Int, phash: Long)

  /** Decoder contract: one instance per partition (constructed inside
    * mapPartitions), decode called per record. A real implementation would
    * wrap an image/audio library handle here. */
  trait MediaDecoder extends Serializable {
    def decode(media: Array[Byte]): (Int, Int, Int, Long)
  }

  /** STUB: deterministic fake decode — dimensions and a perceptual-hash
    * stand-in derived from the MD5 of the payload bytes. MD5 (unlike a
    * bespoke rolling hash) exists verbatim in other engines, so the whole
    * decode pipeline is DuckDB-oracle-checkable despite the codec being a
    * stand-in; a real codec changes only this object. */
  object StubDecoder extends MediaDecoder {
    override def decode(media: Array[Byte]): (Int, Int, Int, Long) = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(media).map("%02x".format(_)).mkString
      val w8 = java.lang.Long.parseLong(hex.substring(0, 8), 16)
      val h8 = java.lang.Long.parseLong(hex.substring(8, 16), 16)
      val f4 = java.lang.Long.parseLong(hex.substring(16, 20), 16)
      val ph = java.lang.Long.parseLong(hex.substring(17, 32), 16)
      (160 + ((w8 % 8) * 80).toInt,     // 160..720
        120 + ((h8 % 8) * 60).toInt,    // 120..540
        1 + (f4 % 8).toInt, ph)
    }
  }

  /** documents.text reinterpreted as a binary media payload + metadata —
    * the ingest shape a real image/audio table would have. */
  def mediaTable(spark: SparkSession, sfDir: String): DataFrame =
    Tables(spark, sfDir, "documents").select(
      col("doc_id"),
      col("text").cast("binary").as("media"),
      lit("application/octet-stream").as("mimeType"),
      length(col("text").cast("binary")).cast("long").as("nBytes"),
      lit("documents").as("sourceTable"))

  /** Partition-local batched decode: the executor-side pattern that scales —
    * no driver involvement, one decoder per partition, pipelined iterator
    * (never materializes the partition in memory). */
  def decodeAll(media: DataFrame, decoder: MediaDecoder = StubDecoder): Dataset[DecodedRow] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.as[MediaRow].mapPartitions { rows =>
      val d = decoder // per-partition decoder instance
      rows.map { r =>
        val (w, h, f, p) = d.decode(r.media)
        DecodedRow(r.doc_id, r.nBytes, w, h, f, p)
      }
    }
  }

  case class FrameRow(doc_id: Long, frame_idx: Int, frame_phash: Long)

  /** Frame sampling — the generator-shaped media transform (one input row
    * fans out to one row per sampled frame), as a partition-local flatMap:
    * the executor-side pattern for video frame extraction. Frame count
    * comes from the decoder; the per-frame perceptual-hash stand-in is
    * md5(payload + "#f<i>") so the whole fan-out is oracle-checkable. */
  def sampleFrames(media: DataFrame, decoder: MediaDecoder = StubDecoder): Dataset[FrameRow] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.as[MediaRow].mapPartitions { rows =>
      val d = decoder
      rows.flatMap { r =>
        val (_, _, nFrames, _) = d.decode(r.media)
        (0 until nFrames).iterator.map { i =>
          val md = java.security.MessageDigest.getInstance("MD5")
          val hex = md.digest(r.media ++ s"#f$i".getBytes("UTF-8"))
            .map("%02x".format(_)).mkString
          FrameRow(r.doc_id, i, java.lang.Long.parseLong(hex.substring(1, 16), 16))
        }
      }
    }
  }

  /** m01: binary transport metadata — oracle-able (byte lengths). */
  private def m01(s: SparkSession, d: String): DataFrame =
    mediaTable(s, d)
      .select(col("doc_id"), col("nBytes").as("n_bytes"),
        col("mimeType").as("mime_type"))
      .orderBy("doc_id")

  /** m02: full stub decode pipeline through mapPartitions; oracle-checked
    * end-to-end because the stub derives everything from md5. */
  private def m02(s: SparkSession, d: String): DataFrame =
    decodeAll(mediaTable(s, d)).toDF()
      .select(col("doc_id"), col("nBytes").as("n_bytes"), col("width"),
        col("height"), col("nFrames").as("n_frames"), col("phash"))
      .orderBy("doc_id")

  /** m03: per-frame fan-out through the generator-shaped sampler. */
  private def m03(s: SparkSession, d: String): DataFrame =
    sampleFrames(mediaTable(s, d)).toDF()
      .orderBy("doc_id", "frame_idx")

  /** m04: cross-corpus frame dedup — the re-ingest scenario a media
    * pipeline actually hits: a shard of already-seen payloads arrives
    * again under new ids (every 10th doc, offset ids here), and frames
    * sharing a perceptual hash collapse to one keeper (min doc_id).
    * Hash-partitioned groupBy over the frame fan-out — nothing collects
    * anywhere, so the pass scales with the frame count. */
  private def m04(s: SparkSession, d: String): DataFrame = {
    val base = mediaTable(s, d)
    // The re-ingested shard's synthetic ids live in a disjoint id space
    // derived from the data: max(doc_id)+1 cannot collide at any SF
    // (a fixed offset silently collides once the table outgrows it,
    // flipping keeper semantics). One scalar from a column-pruned agg.
    val offset = Tables.fixtureStat(d, "media_maxid") {
      base.agg(max(col("doc_id"))).head().getLong(0)
    } + 1L
    val reingested = base.filter(col("doc_id") % 10 === 0)
      .withColumn("doc_id", col("doc_id") + lit(offset))
    sampleFrames(base.union(reingested)).toDF()
      .groupBy(col("frame_phash"))
      .agg(min(col("doc_id")).as("keeper_doc"), count(lit(1)).as("n_copies"))
      .filter(col("n_copies") > 1)
      .orderBy("frame_phash")
  }

  /** m05: payload-integrity audit — the quarantine pass every media lake
    * runs on ingest: recompute each payload's checksum and compare with
    * the manifest's stored digest; mismatches (bit rot, truncated copies,
    * wrong-object writes) quarantine instead of poisoning downstream
    * decodes. Corruption is planted deterministically (every 37th doc's
    * stored digest is computed over a doctored payload) so both engines
    * agree on the exact quarantine set. A map-only scan — one pass, no
    * shuffle, scales with payload bytes. */
  private def m05(s: SparkSession, d: String): DataFrame =
    mediaTable(s, d)
      .withColumn("stored_md5",
        when(col("doc_id") % 37 === 0,
          md5(concat(col("media"), lit("X").cast("binary"))))
          .otherwise(md5(col("media"))))
      .withColumn("computed_md5", md5(col("media")))
      .filter(col("stored_md5") =!= col("computed_md5"))
      .select(col("doc_id"), col("stored_md5"), col("computed_md5"))
      .orderBy("doc_id")

  /** m06: perceptual-hash NEAR-dup across frames — m04 catches byte-exact
    * re-ingests (identical phash); this catches the re-ENCODE case every
    * media pipeline hits (same frame, slightly different pixels → a
    * phash within a few bits). A re-ingested shard arrives with each
    * frame's 60-bit phash perturbed by a deterministic 1-2 bit mask (the
    * stand-in for a real codec's drift, md5-derived so both engines agree
    * bit-for-bit), and the engine finds every pair within Hamming
    * distance 3 WITHOUT an all-pairs scan: the d03 banding discipline —
    * the phash splits into 4 bands of 15 bits, candidate pairs only form
    * inside a (band_idx, band_value) bucket, and the exact Hamming check
    * runs on candidates only. For a ≤3-bit difference the pigeonhole
    * guarantees at least one untouched band, so the banded candidate set
    * PROVABLY contains every qualifying pair — which is why the oracle
    * can be the brute-force all-pairs SQL and still hash-match: banding
    * here loses nothing, by construction, and the gate proves it on real
    * data. Scale shape: pairs form only inside 15-bit-band buckets (the
    * m-family's d03), the verify legs are hash equi-joins on the frame
    * key; nothing is quadratic in the corpus. */
  private def m06(s: SparkSession, d: String): DataFrame = {
    val base = mediaTable(s, d)
    val offset = Tables.fixtureStat(d, "media_maxid") {
      base.agg(max(col("doc_id"))).head().getLong(0)
    } + 1L
    val variants = base.filter(col("doc_id") % 10 === 0)
      .withColumn("doc_id", col("doc_id") + lit(offset))
    // re-encoded frames: same payload → same base phash, then the drift
    // mask (bits new_id%60 and (new_id div 7)%60 — 1 bit when they
    // coincide, 2 otherwise, always within the Hamming-3 budget)
    val varFrames = sampleFrames(variants).toDF()
      .withColumn("frame_phash", expr(
        """frame_phash ^ (shiftleft(1L, CAST(doc_id % 60 AS INT)) |
          | shiftleft(1L, CAST((doc_id div 7) % 60 AS INT)))""".stripMargin))
    val ph = sampleFrames(base).toDF().unionByName(varFrames)
      .select((col("doc_id") * 10 + col("frame_idx")).as("fkey"),
        col("frame_phash").as("p")) // frame_idx < 10, keys collision-free
    val banded = ph.select(col("fkey"), posexplode(array(
        (0 until 4).map(b =>
          shiftright(col("p"), b * 15).bitwiseAND(lit(0x7FFFL))): _*)))
      .withColumnRenamed("pos", "band_idx").withColumnRenamed("col", "band")
    // dedupe candidates BEFORE the verify: a pair agreeing on two bands
    // must be checked (and emitted) once
    val pairs = banded.select(col("band_idx"), col("band"), col("fkey").as("ka"))
      .join(banded.select(col("band_idx"), col("band"), col("fkey").as("kb")),
        Seq("band_idx", "band"))
      .filter(col("ka") < col("kb")).select("ka", "kb").distinct()
    pairs
      .join(ph.select(col("fkey").as("ka"), col("p").as("pa")), "ka")
      .join(ph.select(col("fkey").as("kb"), col("p").as("pb")), "kb")
      .withColumn("hamming", expr("CAST(bit_count(pa ^ pb) AS BIGINT)"))
      .filter(col("hamming") <= 3)
      .select(col("ka").as("key_a"), col("kb").as("key_b"), col("hamming"))
      .orderBy("key_a", "key_b")
  }

  /** m07: dual-encoder ALIGNMENT filtering — the CLIP-score curation
    * step (LAION's core filter): score each (media, caption) pair with
    * the cosine of an image-tower embedding against a text-tower
    * embedding, and keep only pairs above threshold — this is how
    * image-text training sets drop mismatched scrapes and wrong-alt-text
    * images. Captions drift deterministically (every doc_id ≡ 0 mod 5
    * takes its successor's caption), so the corpus contains real
    * mismatches for the filter to catch; the last doc's drifted pair
    * has no successor and drops in the join — both engines agree.
    *
    * The "image tower" is the stub codec's decode (media bytes → text)
    * feeding [[graft.ops.TextOps.docSlotEmbed]], the t24 16-slot
    * feature-hash embedding; the text tower is the same embedding on the
    * caption. Stub encoders, real contract — two towers, embed-level
    * equi-join, exact cosine, threshold accounting — and md5-derived
    * throughout, so DuckDB replays every value (the m-family
    * discipline). Aligned pairs embed identically: integer slot dots
    * make their cosine exactly 1.0; drifted pairs score the cosine of
    * two different documents.
    *
    * Scale shape: two map-only embed passes and one doc_id equi-join —
    * nothing pairwise beyond the intended 1:1 pairs; at 100 TB the
    * towers are the expensive stage (real encoders batch on GPUs via
    * the m02 mapPartitions seam) and the filter stays a projection. */
  private def m07(s: SparkSession, d: String): DataFrame = {
    val media = mediaTable(s, d)
      .select(col("doc_id"),
        graft.ops.TextOps.docSlotEmbed(col("media").cast("string")).as("iv"))
    val pairs = Tables(s, d, "documents").select(col("doc_id"),
      when(col("doc_id") % 5 === 0, col("doc_id") + 1)
        .otherwise(col("doc_id")).as("cap_src"))
    val captions = Tables(s, d, "documents").select(
      col("doc_id").as("cap_src"),
      graft.ops.TextOps.docSlotEmbed(col("text")).as("cv"))
    pairs.join(media, "doc_id").join(captions, "cap_src")
      .withColumn("dot", aggregate(
        zip_with(col("iv"), col("cv"), (x, y) => x * y),
        lit(0.0), (acc, e) => acc + e.cast("double")))
      .withColumn("cos", col("dot") /
        (graft.ops.TextOps.ragNorm(col("iv")) *
          graft.ops.TextOps.ragNorm(col("cv"))))
      .select(col("doc_id"), col("cap_src"),
        round(col("cos"), 6).as("clip_score"),
        (col("cos") >= 0.999).as("kept"))
      .orderBy("doc_id")
  }

  /** c06: the c01 curation discipline applied to the MEDIA lake — m05's
    * integrity audit, m04's frame-grain dedup, and m07's CLIP alignment
    * filter composed in FIXED precedence with c04-style per-stage
    * accounting, the whole composition hash-matched as one result:
    *
    *   1. `quarantined` — stored digest ≠ recomputed digest (bit rot /
    *      truncated copies; the planted m05 corruption set). Quarantined
    *      payloads are excluded BEFORE dedup: a corrupt payload may not
    *      become a dedup keeper that evicts a healthy copy.
    *   2. `frame_dup`   — among clean docs, any frame whose perceptual
    *      hash is owned by a lower-id doc marks the whole doc a
    *      duplicate loser (min-id keeper election at frame grain).
    *   3. `misaligned`  — survivors whose (media, caption) cosine fails
    *      the m07 threshold, including pairs whose caption source is
    *      missing (unverifiable alignment drops, it doesn't pass).
    *   4. `kept`        — everything else.
    *
    * Output is the c04 report: (status, lang) → doc count + payload
    * bytes, the savings/audit summary a media-curation run ships.
    *
    * Scale shape: one map-only integrity pass, the m04 frame fan-out
    * with one keyed min-agg, the m07 two-tower embed join, and one final
    * hash agg — every stage keyed, nothing quadratic, nothing driver-
    * side; stage verdicts meet on doc_id equi-joins exactly like c01. */
  private def c06(s: SparkSession, d: String): DataFrame = {
    // the corpus is the m04 re-ingest scenario: every 10th payload
    // arrives AGAIN under an offset id (the fixture itself carries no
    // byte-exact duplicates, so without the shard the dedup stage would
    // be dead code in this gate); lang rides along for the accounting
    val base0 = mediaTable(s, d)
    val offset = Tables.fixtureStat(d, "media_maxid") {
      base0.agg(max(col("doc_id"))).head().getLong(0)
    } + 1L
    val media = base0.unionByName(
      base0.filter(col("doc_id") % 10 === 0)
        .withColumn("doc_id", col("doc_id") + lit(offset)))
    val langs = Tables(s, d, "documents").select(col("doc_id"), col("lang"))
    val langOf = langs.unionByName(
      langs.filter(col("doc_id") % 10 === 0)
        .withColumn("doc_id", col("doc_id") + lit(offset)))
    val checked = media
      .withColumn("stored_md5",
        when(col("doc_id") % 37 === 0,
          md5(concat(col("media"), lit("X").cast("binary"))))
          .otherwise(md5(col("media"))))
      .withColumn("ok", col("stored_md5") === md5(col("media")))
    val clean = checked.filter(col("ok"))
      .select("doc_id", "media", "mimeType", "nBytes", "sourceTable")
    val frames = sampleFrames(clean).toDF()
    val owners = frames.groupBy(col("frame_phash"))
      .agg(min(col("doc_id")).as("owner"))
    val dupDocs = frames.join(owners, Seq("frame_phash"))
      .filter(col("doc_id") > col("owner"))
      .select(col("doc_id")).distinct()
      .withColumn("is_dup", lit(true))
    val iv = clean.select(col("doc_id"),
      graft.ops.TextOps.docSlotEmbed(col("media").cast("string")).as("iv"))
    val caps = Tables(s, d, "documents").select(
      col("doc_id").as("cap_src"),
      graft.ops.TextOps.docSlotEmbed(col("text")).as("cv"))
    val aligned = iv
      .withColumn("cap_src",
        when(col("doc_id") % 5 === 0, col("doc_id") + 1)
          .otherwise(col("doc_id")))
      .join(caps, Seq("cap_src"), "left")
      .withColumn("cos", when(col("cv").isNull, lit(0.0)).otherwise(
        aggregate(zip_with(col("iv"), col("cv"), (x, y) => x * y),
          lit(0.0), (acc, e) => acc + e.cast("double")) /
          (graft.ops.TextOps.ragNorm(col("iv")) *
            graft.ops.TextOps.ragNorm(col("cv")))))
      .select(col("doc_id"), (col("cos") >= 0.999).as("aligned"))
    checked.select(col("doc_id"), col("ok"), col("nBytes"))
      .join(dupDocs, Seq("doc_id"), "left")
      .join(aligned, Seq("doc_id"), "left")
      .withColumn("status",
        when(!col("ok"), "quarantined")
          .when(col("is_dup"), "frame_dup")
          .when(!col("aligned"), "misaligned")
          .otherwise("kept"))
      .join(langOf, "doc_id")
      .groupBy(col("status"), col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nBytes")).as("sum_bytes"))
      .orderBy("status", "lang")
  }

  /** m08: MODALITY-BALANCED INTERLEAVING — the batch-assembly step after
    * curation: a mixed corpus (here 60% text / 30% image / 10% audio,
    * derived deterministically from doc_id) must feed training in a
    * stable interleave that honors the mix ratio at every prefix, not
    * just in aggregate — the property that keeps per-batch modality
    * balance when the stream is cut into consecutive batches. The
    * interleave is stride scheduling (weighted-fair-queueing virtual
    * time): the r-th item of a modality with weight w serves at
    * vt = (2r−1)·(W/w) (W = 6, the weight LCM — so strides are the
    * integers 1/2/6 and every vt is exact), items serve in vt order,
    * ties broken (modality, doc_id). Pure integer arithmetic — the
    * DuckDB oracle recomputes it verbatim, hash-matched on the first
    * [[InterleaveK]] positions. Scale shape: the per-modality rank is a
    * 3-partition window HERE (fixture grain); at corpus scale it is
    * q114's global dense numbering per modality (range shuffle + O(P)
    * offsets), and the head-of-stream cut is a TakeOrdered top-k on vt,
    * never a global sort. */
  private def m08(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val m = Tables(s, d, "documents").select(col("doc_id"),
      when(col("doc_id") % 10 <= 5, "text")
        .when(col("doc_id") % 10 <= 8, "image")
        .otherwise("audio").as("modality"))
    val stride = when(col("modality") === "text", 1L)
      .when(col("modality") === "image", 2L).otherwise(6L)
    val ranked = m.withColumn("rnk", row_number().over(
        Window.partitionBy(col("modality")).orderBy(col("doc_id"))))
      .withColumn("vt", ((lit(2) * col("rnk") - 1).cast("long") * stride))
    val head = ranked.orderBy(col("vt"), col("modality"), col("doc_id"))
      .limit(InterleaveK)
    head.withColumn("pos", row_number().over(
        Window.orderBy(col("vt"), col("modality"), col("doc_id"))))
      .select(col("pos"), col("modality"), col("doc_id"), col("vt"))
      .orderBy("pos")
  }

  /** Interleave head length m08 pins (the first two “training batches”
    * at a 60-item batch grain). */
  private val InterleaveK = 120

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "m01_binary_meta" -> m01 _, "m02_media_decode" -> m02 _,
    "m03_frame_sample" -> m03 _, "m04_frame_dedup" -> m04 _,
    "m05_payload_integrity" -> m05 _, "m06_frame_neardup" -> m06 _,
    "m07_clip_filter" -> m07 _, "m08_modality_interleave" -> m08 _,
    "c06_media_curation" -> c06 _)

  val oracle: Map[String, String] = Map(
    // m08: the stride-scheduling arithmetic recomputed verbatim — same
    // modality rule, same integer virtual times, same tie-break
    "m08_modality_interleave" ->
      """WITH m AS (
        |  SELECT doc_id, CASE WHEN doc_id % 10 <= 5 THEN 'text'
        |                      WHEN doc_id % 10 <= 8 THEN 'image'
        |                      ELSE 'audio' END AS modality
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, modality,
        |    row_number() OVER (PARTITION BY modality ORDER BY doc_id)
        |      AS rnk,
        |    CASE WHEN doc_id % 10 <= 5 THEN 1
        |         WHEN doc_id % 10 <= 8 THEN 2 ELSE 6 END AS stride
        |  FROM m),
        |v AS (SELECT doc_id, modality,
        |        CAST((2 * rnk - 1) * stride AS BIGINT) AS vt FROM r),
        |h AS (SELECT * FROM v ORDER BY vt, modality, doc_id LIMIT 120)
        |SELECT CAST(row_number() OVER (ORDER BY vt, modality, doc_id)
        |         AS INT) AS pos,
        |  modality, doc_id, vt
        |FROM h ORDER BY pos""".stripMargin,
    // the whole media-curation composition replayed from documents.text
    // (the stub decode recovers the payload byte-for-byte): integrity
    // plant, frame fan-out + min-id keeper election over CLEAN docs only,
    // two-tower cosine with missing-caption drops, fixed precedence
    "c06_media_curation" ->
      """WITH off AS (SELECT max(doc_id) + 1 AS o FROM documents),
        |m AS (
        |  SELECT doc_id, lang, text, octet_length(encode(text)) AS n_bytes,
        |    (doc_id % 37 = 0) AS bad
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id + (SELECT o FROM off), lang, text,
        |    octet_length(encode(text)),
        |    ((doc_id + (SELECT o FROM off)) % 37 = 0)
        |  FROM documents WHERE doc_id % 10 = 0),
        |h AS (SELECT doc_id, text, md5(text) AS hex FROM m WHERE NOT bad),
        |f AS (SELECT doc_id, text,
        |        1 + ('0x' || substr(hex, 17, 4))::BIGINT % 8 AS n_frames
        |      FROM h),
        |frames AS (SELECT doc_id, text, unnest(range(n_frames)) AS fi FROM f),
        |ph AS (SELECT doc_id,
        |        ('0x' || substr(md5(text || '#f' || fi), 2, 15))::BIGINT AS p
        |       FROM frames),
        |owners AS (SELECT p, min(doc_id) AS owner FROM ph GROUP BY p),
        |dups AS (SELECT DISTINCT ph.doc_id FROM ph JOIN owners USING (p)
        |         WHERE ph.doc_id > owner),
        |vexpr AS (
        |  SELECT doc_id,
        |    list_transform(generate_series(0, 15), i ->
        |      len(list_filter(string_split(text, ' '),
        |        t -> ('0x' || substr(md5(t), 1, 15))::BIGINT % 16 = i))) AS v
        |  FROM m WHERE NOT bad),
        |emb AS (
        |  SELECT doc_id,
        |    list_transform(generate_series(0, 15), i ->
        |      len(list_filter(string_split(text, ' '),
        |        t -> ('0x' || substr(md5(t), 1, 15))::BIGINT % 16 = i))) AS v
        |  FROM documents),
        |al AS (
        |  SELECT c.doc_id,
        |    CASE WHEN b.doc_id IS NULL THEN FALSE ELSE
        |      (CAST(list_sum(list_transform(generate_series(1, 16),
        |          i -> a.v[i] * b.v[i])) AS DOUBLE)
        |       / (sqrt(CAST(list_sum(list_transform(a.v, x -> x * x))
        |             AS DOUBLE))
        |        * sqrt(CAST(list_sum(list_transform(b.v, x -> x * x))
        |             AS DOUBLE)))) >= 0.999 END AS aligned
        |  FROM (SELECT doc_id,
        |          CASE WHEN doc_id % 5 = 0 THEN doc_id + 1 ELSE doc_id END
        |            AS cap_src
        |        FROM m WHERE NOT bad) c
        |  JOIN vexpr a ON a.doc_id = c.doc_id
        |  LEFT JOIN emb b ON b.doc_id = c.cap_src),
        |st AS (
        |  SELECT m.doc_id, m.lang, m.n_bytes,
        |    CASE WHEN m.bad THEN 'quarantined'
        |         WHEN d.doc_id IS NOT NULL THEN 'frame_dup'
        |         WHEN NOT al.aligned THEN 'misaligned'
        |         ELSE 'kept' END AS status
        |  FROM m
        |  LEFT JOIN dups d ON d.doc_id = m.doc_id
        |  LEFT JOIN al ON al.doc_id = m.doc_id)
        |SELECT status, lang, count(1) AS n_docs,
        |  CAST(sum(n_bytes) AS BIGINT) AS sum_bytes
        |FROM st GROUP BY 1, 2 ORDER BY status, lang""".stripMargin,
    // both towers replayed from the raw text (the stub decode recovers
    // it byte-for-byte): aligned pairs are exactly 1.0, drifted pairs
    // are the cosine of two different documents — same md5 slot space
    "m07_clip_filter" ->
      """WITH emb AS (
        |  SELECT doc_id,
        |    list_transform(generate_series(0, 15), i ->
        |      len(list_filter(string_split(text, ' '),
        |        t -> ('0x' || substr(md5(t), 1, 15))::BIGINT % 16 = i))) AS v
        |  FROM documents),
        |pairs AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 5 = 0 THEN doc_id + 1 ELSE doc_id END
        |      AS cap_src
        |  FROM documents),
        |scored AS (
        |  SELECT p.doc_id, p.cap_src,
        |    CAST(list_sum(list_transform(generate_series(1, 16),
        |        i -> a.v[i] * b.v[i])) AS DOUBLE)
        |     / (sqrt(CAST(list_sum(list_transform(a.v, x -> x * x)) AS DOUBLE))
        |      * sqrt(CAST(list_sum(list_transform(b.v, x -> x * x)) AS DOUBLE)))
        |      AS cos
        |  FROM pairs p
        |  JOIN emb a ON a.doc_id = p.doc_id
        |  JOIN emb b ON b.doc_id = p.cap_src)
        |SELECT doc_id, cap_src, round(cos, 6) AS clip_score,
        |  cos >= 0.999 AS kept
        |FROM scored ORDER BY doc_id""".stripMargin,
    // brute-force all-pairs Hamming — the banded engine result must match
    // it EXACTLY because ≤3 flipped bits cannot touch all 4 bands
    // (pigeonhole): the banding's recall guarantee, oracle-enforced
    "m06_frame_neardup" ->
      """WITH off AS (SELECT max(doc_id) + 1 AS o FROM documents),
        |corpus AS (
        |  SELECT doc_id, text, FALSE AS variant FROM documents
        |  UNION ALL
        |  SELECT doc_id + (SELECT o FROM off) AS doc_id, text, TRUE AS variant
        |  FROM documents WHERE doc_id % 10 = 0),
        |h AS (SELECT doc_id, variant, text, md5(text) AS hex FROM corpus),
        |f AS (SELECT doc_id, variant, text,
        |        1 + ('0x' || substr(hex, 17, 4))::BIGINT % 8 AS n_frames FROM h),
        |frames AS (SELECT doc_id, variant, text, unnest(range(n_frames)) AS fi FROM f),
        |ph0 AS (SELECT doc_id, variant, fi,
        |         ('0x' || substr(md5(text || '#f' || fi), 2, 15))::BIGINT AS p
        |        FROM frames),
        |ph AS (SELECT doc_id * 10 + fi AS fkey,
        |         CASE WHEN variant THEN xor(p,
        |           (1::BIGINT << CAST(doc_id % 60 AS INT)) |
        |           (1::BIGINT << CAST((doc_id // 7) % 60 AS INT)))
        |         ELSE p END AS p
        |       FROM ph0)
        |SELECT a.fkey AS key_a, b.fkey AS key_b,
        |  CAST(bit_count(xor(a.p, b.p)) AS BIGINT) AS hamming
        |FROM ph a JOIN ph b ON a.fkey < b.fkey
        |WHERE bit_count(xor(a.p, b.p)) <= 3
        |ORDER BY key_a, key_b""".stripMargin,
    // the planted corruptions are exactly the audit's quarantine set
    "m05_payload_integrity" ->
      """SELECT doc_id, md5(text || 'X') AS stored_md5,
        |  md5(text) AS computed_md5
        |FROM documents WHERE doc_id % 37 = 0
        |ORDER BY doc_id""".stripMargin,
    "m01_binary_meta" ->
      """SELECT doc_id, octet_length(encode(text)) AS n_bytes,
        | 'application/octet-stream' AS mime_type
        |FROM documents ORDER BY doc_id""".stripMargin,
    "m02_media_decode" ->
      """WITH h AS (SELECT doc_id, octet_length(encode(text)) AS n_bytes,
        |                  md5(text) AS hex FROM documents)
        |SELECT doc_id, n_bytes,
        | CAST(160 + (('0x' || substr(hex, 1, 8))::BIGINT % 8) * 80 AS INT) AS width,
        | CAST(120 + (('0x' || substr(hex, 9, 8))::BIGINT % 8) * 60 AS INT) AS height,
        | CAST(1 + ('0x' || substr(hex, 17, 4))::BIGINT % 8 AS INT) AS n_frames,
        | ('0x' || substr(hex, 18, 15))::BIGINT AS phash
        |FROM h ORDER BY doc_id""".stripMargin,
    "m03_frame_sample" ->
      """WITH h AS (SELECT doc_id, text, md5(text) AS hex FROM documents),
        |f AS (SELECT doc_id, text,
        |        1 + ('0x' || substr(hex, 17, 4))::BIGINT % 8 AS n_frames FROM h),
        |frames AS (SELECT doc_id, text, unnest(range(n_frames)) AS fi FROM f)
        |SELECT doc_id, CAST(fi AS INT) AS frame_idx,
        |  ('0x' || substr(md5(text || '#f' || fi), 2, 15))::BIGINT AS frame_phash
        |FROM frames ORDER BY doc_id, frame_idx""".stripMargin,
    "m04_frame_dedup" ->
      """WITH off AS (SELECT max(doc_id) + 1 AS o FROM documents),
        |corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + (SELECT o FROM off) AS doc_id, text
        |  FROM documents WHERE doc_id % 10 = 0),
        |h AS (SELECT doc_id, text, md5(text) AS hex FROM corpus),
        |f AS (SELECT doc_id, text,
        |        1 + ('0x' || substr(hex, 17, 4))::BIGINT % 8 AS n_frames FROM h),
        |frames AS (SELECT doc_id, text, unnest(range(n_frames)) AS fi FROM f),
        |ph AS (SELECT doc_id,
        |        ('0x' || substr(md5(text || '#f' || fi), 2, 15))::BIGINT AS frame_phash
        |       FROM frames)
        |SELECT frame_phash, min(doc_id) AS keeper_doc, count(1) AS n_copies
        |FROM ph GROUP BY frame_phash HAVING count(1) > 1
        |ORDER BY frame_phash""".stripMargin)
}
