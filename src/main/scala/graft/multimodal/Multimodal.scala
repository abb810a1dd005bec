package graft.multimodal

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Provenance.Evidence

/** Multimodal column support: image/audio/video as opaque `binary`
  * payloads + typed metadata, with decode / feature-extraction /
  * resize / frame-sampling as partition-wise transforms.
  *
  * The decode is REAL as of round 5: [[Codecs]] sniffs container magic
  * and parses PNG/JPEG/BMP/GIF through `javax.imageio` (animated GIF
  * doubles as the multi-frame/video fixture) and WAV through
  * `javax.sound.sampled` — JDK-builtin codecs, zero added dependencies.
  * The former `StubDecoder` is gone; q71 pins an encode→decode PNG
  * round trip against a DuckDB oracle that re-derives pixel sums from
  * the generator formula.
  *
  * 100 TB posture: payloads never leave executors; decode is
  * mapPartitions (one codec init per partition, not per row);
  * metadata-only queries prune the binary column at the parquet scan,
  * so analytic passes over metadata read none of the payload bytes.
  */
object Multimodal {

  val MediaMetaType: StructType = StructType(Seq(
    StructField("kind", StringType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("channels", IntegerType),
    StructField("sample_rate", IntegerType),
    StructField("n_frames", IntegerType),
    StructField("n_bytes", LongType)))

  /** Attach a binary payload column (UTF-8 bytes of a string column —
    * the testdata stand-in for real media bytes). */
  def withPayload(df: DataFrame, from: String = "text",
                  to: String = "content"): DataFrame =
    df.withColumn(to, encode(col(from), "UTF-8"))

  /** Decode metadata partition-wise through the real codecs. Output
    * adds a `meta` struct; kind is sniffed from magic bytes, unclaimed
    * payloads come back kind='unknown' with true n_bytes (never a
    * partition failure). Partition-preserving: no shuffle. */
  def decodeMeta(df: DataFrame, contentCol: String = "content"): DataFrame = {
    val spark = df.sparkSession
    val inSchema = df.schema
    val outSchema = StructType(inSchema.fields :+ StructField("meta", MediaMetaType))
    val iIdx = inSchema.fieldIndex(contentCol)
    val rdd = df.rdd.mapPartitions { rows =>
      // codec/reader lookup state initializes once per partition here
      rows.map { r =>
        val payload = r.getAs[Array[Byte]](iIdx)
        val m = Codecs.decode(payload)
        Row.fromSeq(r.toSeq :+ Row(m.kind, m.width, m.height, m.channels,
          m.sampleRate, m.nFrames, payload.length.toLong))
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** Feature extraction: normalized byte-value histogram (16 bins) as
    * a fixed-size feature vector — the plumbing shape of any embedding
    * extractor (binary in, float vector out). Pure byte arithmetic has
    * no codec seam, so unlike [[decodeMeta]] this stays a Catalyst
    * expression inside whole-stage codegen
    * ([[graft.catalyst.ByteHistogramExpr]]) — no RDD hop, scan pruning
    * and pushdown intact. */
  def byteHistogramFeatures(df: DataFrame, contentCol: String = "content",
                            bins: Int = 16): DataFrame =
    df.withColumn("features",
      graft.catalyst.native.byteHistogram(col(contentCol), bins))

  /** Resize: payload→payload partition-wise transform. Payloads a codec
    * claims take the REAL path — decode, nearest-neighbor scale, PNG
    * re-encode ([[Codecs.resizeImage]]) — and the metadata struct is
    * rewritten to describe the ACTUAL output: a single-frame RGB PNG,
    * so `kind='image'`, `n_frames=1` even when the input was a
    * multi-frame GIF (use [[resizeFrames]] to keep every frame).
    * Payloads no codec claims (text, audio, corrupt bytes) pass through
    * UNCHANGED — bytes and meta both — so mixed corpora never fail and
    * never inflate: the pre-r7 byte-resample fallback scaled opaque
    * payloads by targetW·targetH / (0·0 → 1), a ~1e6× memory blow-up
    * on any non-image row. Shape contract: binary in → binary out,
    * meta always describes the bytes, partition preserving, payload
    * never leaves the executor. */
  def resize(df: DataFrame, targetW: Int, targetH: Int,
             contentCol: String = "content"): DataFrame = {
    val spark = df.sparkSession
    val inSchema = df.schema
    val cIdx = inSchema.fieldIndex(contentCol)
    val mIdx = inSchema.fieldIndex("meta")
    val rdd = df.rdd.mapPartitions { rows =>
      rows.map { r =>
        val payload = r.getAs[Array[Byte]](cIdx)
        Codecs.resizeImage(payload, targetW, targetH) match {
          case Some(png) =>
            val meta = r.getStruct(mIdx)
            val newMeta = Row("image", targetW, targetH, 3,
              meta.getInt(4), 1, png.length.toLong)
            Row.fromSeq(r.toSeq.updated(cIdx, png).updated(mIdx, newMeta))
          case None => r // unclaimed payload: pass through, meta still true
        }
      }
    }
    spark.createDataFrame(rdd, inSchema)
  }

  /** Frame-complete resize: multi-frame payloads (animated GIF — the
    * video stand-in) have EVERY frame scaled and re-encoded as an
    * animated GIF with the same frame count, so `kind='video'` and
    * `n_frames` stay truthful; single-frame images re-encode as PNG
    * with `kind='image'`. Unclaimed payloads pass through unchanged,
    * same as [[resize]]. Same shape contract: partition preserving,
    * payloads stay on executors. */
  def resizeFrames(df: DataFrame, targetW: Int, targetH: Int,
                   contentCol: String = "content"): DataFrame = {
    val spark = df.sparkSession
    val inSchema = df.schema
    val cIdx = inSchema.fieldIndex(contentCol)
    val mIdx = inSchema.fieldIndex("meta")
    val rdd = df.rdd.mapPartitions { rows =>
      rows.map { r =>
        val payload = r.getAs[Array[Byte]](cIdx)
        Codecs.resizeFrames(payload, targetW, targetH) match {
          case Some((out, nFrames)) =>
            val meta = r.getStruct(mIdx)
            val kind = if (nFrames > 1) "video" else "image"
            val newMeta = Row(kind, targetW, targetH, 3,
              meta.getInt(4), nFrames, out.length.toLong)
            Row.fromSeq(r.toSeq.updated(cIdx, out).updated(mIdx, newMeta))
          case None => r
        }
      }
    }
    spark.createDataFrame(rdd, inSchema)
  }

  /** Frame sampling: every-k-th frame index list from decoded metadata —
    * pure Column arithmetic (no payload touch; scan prunes `content`). */
  def sampleFrames(df: DataFrame, every: Int = 30): DataFrame =
    df.withColumn("sampled_frames",
      when(col("meta.kind") === "video",
        sequence(lit(0), greatest(col("meta.n_frames") - 1, lit(0)), lit(every)))
        .otherwise(array(lit(0))))

  /** Metadata-only analytic pass: proves the binary column prunes out
    * of the scan when only `meta` fields are referenced. */
  def metaSummary(decoded: DataFrame): DataFrame =
    decoded.groupBy("meta.kind")
      .agg(count(lit(1)).as("n"),
           avg(col("meta.width")).as("avg_width"),
           sum(col("meta.n_bytes")).as("total_bytes"))
      .orderBy("kind")

  // ---- q71: oracle-checked real-codec round trip -----------------------

  /** Deterministic per-doc image dimensions (mirrored in [[q71Sql]]). */
  private def q71Dims(docId: Long): (Int, Int) =
    (8 + (docId % 24).toInt, 8 + ((docId / 3) % 16).toInt)

  /** Synthesize one formula PNG per document id: dims from [[q71Dims]],
    * pixels from [[Codecs.synthPng]]'s seed formula. mapPartitions so
    * the PNG encoder state is per-partition; input is a doc_id-only
    * scan (no text bytes read). */
  def synthImages(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    val ids = docs.select("doc_id")
    val outSchema = StructType(Seq(StructField("doc_id", LongType),
      StructField("content", BinaryType)))
    val rdd = ids.rdd.mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        val (w, h) = q71Dims(id)
        Row(id, Codecs.synthPng(id, w, h))
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** q71: REAL ImageIO round trip, oracle-checkable. Synthesizes a
    * formula PNG per doc, decodes it back through the engine's codec
    * seam ([[decodeMeta]] for header metadata, [[Codecs.pixelSum]] for
    * the full raster), and emits per-doc decoded facts. The DuckDB
    * oracle recomputes width/height from the dim formula and pixel_sum
    * as Σ (doc_id·131 + i) mod 256 over i < 3wh — a hash-exact match is
    * only possible if the PNG encode→decode actually round-trips.
    * Map-only except the output sort; the doc table contributes one
    * narrow column. */
  def q71ImageDecode(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    val decoded = decodeMeta(synthImages(docs))
    val inSchema = decoded.schema
    val cIdx = inSchema.fieldIndex("content")
    val outSchema = StructType(inSchema.fields :+ StructField("pix_sum", LongType))
    val withSum = spark.createDataFrame(
      decoded.rdd.mapPartitions { rows =>
        rows.map { r =>
          val s = Codecs.pixelSum(r.getAs[Array[Byte]](cIdx))
            .map(_._3).getOrElse(-1L)
          Row.fromSeq(r.toSeq :+ s)
        }
      }, outSchema)
    withSum.select(col("doc_id"),
        col("meta.width").as("width"), col("meta.height").as("height"),
        col("meta.channels").as("channels"),
        (col("meta.width").cast("long") * col("meta.height")).as("n_pixels"),
        col("pix_sum"))
      .orderBy("doc_id")
  }

  // ---- q110: perceptual image dedup (dHash + Hamming banding) ----------

  /** Planted near-identical images: every doc with id ≡ 3 (mod 7)
    * renders its BASE doc's (id − 3) image — same dims, same seed —
    * with [[Codecs.synthTexturedPng]]'s sparse perturbation (every
    * 97th channel +64), the image-corpus analogue of GenData's planted
    * near-dup documents. Everything derives from doc_id, so the DuckDB
    * oracle re-plants identically. */
  private val DedupStride = 97

  /** The signature match bounds every deployment form judges with (the
    * ingest tick, its re-adjudication, the eval leg's media channels
    * and the folding stream) and the live forms default to: a
    * candidate verifies at popcount distance ≤ `MaxDist`, and
    * state-side band buckets larger than `MaxBand` are skipped. */
  val MaxDist = 10
  val MaxBand = 64
  private val DedupDelta = 64
  private def q110Spec(docId: Long): (Long, Boolean) =
    if (docId >= 3 && docId % 7 == 3) (docId - 3, true) else (docId, false)

  /** q110: PERCEPTUAL image dedup — the multimodal leg of the dedup
    * surface (r9 verdict item 6: "image dedup is table stakes for a
    * multimodal corpus"). Per doc: synthesize the formula image
    * (planting per [[q110Spec]]), decode through the REAL ImageIO seam,
    * 56-bit dHash over the decoded raster ([[Codecs.dHash56]]); then
    * the q26/q27 machinery applied to image signatures — candidates
    * collide on any of four 14-bit Hamming bands, candidates only are
    * exact-verified with `bit_count(xor)` ≤ `maxDist`. Output: the
    * near-dup census (ida, idb, hamming).
    *
    * The oracle never decodes anything: it re-derives each dHash
    * arithmetically from the generator formula (dims, quadratic
    * texture, NN sampling grid, luminance sums, comparison bits) — a
    * hash-exact match certifies the whole decoded path, the q71
    * convention extended from pixel sums to a perceptual signature.
    *
    * Scale shape: signatures are 8 bytes/image computed map-side at the
    * codec seam (payloads never shuffle); the pair relation is the
    * banded equi-join — O(n) signature rows, collisions only — and
    * verification is one integer popcount per candidate. Band buckets
    * larger than `maxBand` are SKIPPED (the q22 DefaultMaxDf
    * convention, cap mirrored in the oracle): a real corpus carries
    * massive identical-image families — logo tiles, blank frames —
    * whose pair census is O(f²) per family; past the cap that family
    * is connected-component / canonical-keeper business (q56/q98's
    * shape), not a pair list. The same plan at 100 TB:
    * band-partitioned join over an 8-byte column, hot buckets gated. */
  /** (doc_id, sig) — every doc's image rendered (with planting),
    * decoded through the real codec seam, dHashed. THE map-side
    * signature relation of the image-dedup surface: 8 bytes per image,
    * payloads never leave the partition. */
  private[graft] def imageSigs(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    val sigSchema = StructType(Seq(StructField("doc_id", LongType),
      StructField("sig", LongType)))
    spark.createDataFrame(
      docs.select("doc_id").rdd.mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          val (seed, pert) = q110Spec(id)
          val (w, h) = q71Dims(seed)
          val png = Codecs.synthTexturedPng(seed, w, h,
            if (pert) DedupStride else 0, DedupDelta)
          Row(id, Codecs.dHash56(png).getOrElse(-1L))
        }
      }, sigSchema)
  }

  /** The 4×14-bit Hamming band rows of a signature relation. */
  private[graft] def sigBands(sigs: DataFrame): DataFrame =
    sigs.select(col("doc_id"), explode(expr(
        """transform(sequence(0, 3),
          |  k -> struct(k AS band, shiftright(sig, k * 14) & 16383 AS x))"""
          .stripMargin)).as("z"))
      .select(col("doc_id"), col("z.band").as("band"), col("z.x").as("x"))

  def q110ImageDedup(docs: DataFrame, maxDist: Int = MaxDist,
                     maxBand: Int = MaxBand): DataFrame = {
    // severed (review finding): the RDD-backed signature frame is read
    // by the band explode AND both verify sides — un-checkpointed, each
    // plan reference would re-synthesize and re-decode every image
    val sigs = imageSigs(docs).localCheckpoint()
    val bands = sigBands(sigs)
    // hot-bucket gate: buckets above maxBand are family business, not
    // pair business (see scaladoc); singleton buckets generate nothing
    val keep = bands.groupBy("band", "x").agg(count(lit(1)).as("bn"))
      .filter(col("bn") > 1 && col("bn") <= maxBand)
      .select("band", "x")
    val gated = bands.join(keep, Seq("band", "x"), "left_semi")
    val cand = gated.as("p").join(gated.as("q"),
        col("p.band") === col("q.band") && col("p.x") === col("q.x") &&
          col("p.doc_id") < col("q.doc_id"))
      .select(col("p.doc_id").as("ida"), col("q.doc_id").as("idb")).distinct()
    cand
      .join(sigs.select(col("doc_id").as("ida"), col("sig").as("sa")), "ida")
      .join(sigs.select(col("doc_id").as("idb"), col("sig").as("sb")), "idb")
      .select(col("ida"), col("idb"),
        expr("cast(bit_count(sa ^ sb) AS int)").as("hamming"))
      .filter(col("hamming") <= maxDist)
      .orderBy("ida", "idb")
  }

  /** The arithmetic dHash re-derivation CTEs (spec → dims → grid →
    * lum → cmp → `${p}sig(doc_id, sig)` → `${p}bands`) — shared by
    * q110Sql/q114Sql and, prefixed, by the composed multimodal
    * admission oracle (q118 — the CTE-namespace convention: two sig
    * chains of two modalities share one WITH clause); never decodes
    * anything. */
  private def sigSqlCtes(p: String = ""): String = {
    // channel value at raster channel index i, with the planted bump
    def chan(c: Int): String = {
      val i = s"(3 * (sy * w + sx) + $c)"
      s"((seed * 131 + (seed % 97) * $i + $i * $i" +
        s" + CASE WHEN pert AND $i % $DedupStride = 0" +
        s" THEN $DedupDelta ELSE 0 END) % 256)"
    }
    s"""${p}spec AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id >= 3 AND doc_id % 7 = 3 THEN doc_id - 3
       |         ELSE doc_id END AS seed,
       |    (doc_id >= 3 AND doc_id % 7 = 3) AS pert
       |  FROM documents),
       |${p}dims AS (SELECT doc_id, seed, pert,
       |    CAST(8 + seed % 24 AS BIGINT) AS w,
       |    CAST(8 + (seed // 3) % 16 AS BIGINT) AS h
       |  FROM ${p}spec),
       |${p}grid AS (SELECT doc_id, seed, pert, w, h, gx.g AS gx, gy.g AS gy,
       |    (gx.g * w) // 8 AS sx, (gy.g * h) // 8 AS sy
       |  FROM ${p}dims, unnest(range(0, 8)) gx(g), unnest(range(0, 8)) gy(g)),
       |${p}lum AS (SELECT doc_id, gx, gy,
       |    ${chan(0)} + ${chan(1)} + ${chan(2)} AS lum
       |  FROM ${p}grid),
       |${p}cmp AS (SELECT a.doc_id, a.gy * 7 + a.gx AS b,
       |    CASE WHEN a.lum > bb.lum THEN 1 ELSE 0 END AS bit
       |  FROM ${p}lum a JOIN ${p}lum bb ON bb.doc_id = a.doc_id AND bb.gy = a.gy
       |    AND bb.gx = a.gx + 1
       |  WHERE a.gx < 7),
       |${p}sig AS MATERIALIZED (SELECT doc_id,
       |    CAST(sum(bit * (CAST(1 AS BIGINT) << b)) AS BIGINT) AS sig
       |  FROM ${p}cmp GROUP BY doc_id),
       |${p}bands AS (SELECT doc_id, k.k AS band, (sig >> (14 * k.k)) & 16383 AS x
       |  FROM ${p}sig, unnest(range(0, 4)) k(k))""".stripMargin
  }

  /** The audio envelope-signature re-derivation CTEs (`${p}sig` /
    * `${p}bands`) — q116's chain, prefix-parameterized like
    * [[sigSqlCtes]] so both modalities compose into one WITH clause. */
  private def audioSigSqlCtes(p: String = ""): String =
    s"""${p}spec AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id >= 2 AND doc_id % 5 = 2 THEN doc_id - 2
       |         ELSE doc_id END AS seed,
       |    (doc_id >= 2 AND doc_id % 5 = 2) AS pert
       |  FROM documents),
       |${p}sp AS (SELECT doc_id, seed, pert,
       |    CAST(200 + seed % 150 AS BIGINT) AS n
       |  FROM ${p}spec),
       |${p}smp AS (SELECT doc_id, (57 * ii.i) // n AS k,
       |    abs(((seed * 31 + (1 + seed % 1009) * ii.i * ii.i
       |          + CASE WHEN pert AND ii.i % $AudioStride = 0
       |                 THEN $AudioDelta ELSE 0 END) % 65536) - 32768) AS a
       |  FROM ${p}sp, unnest(range(0, n)) ii(i)),
       |${p}win AS (SELECT doc_id, k, CAST(sum(a) AS BIGINT) AS s,
       |          count(*) AS c
       |        FROM ${p}smp GROUP BY doc_id, k),
       |${p}cmp AS (SELECT a.doc_id, a.k AS b,
       |    CASE WHEN a.s * bb.c > bb.s * a.c THEN 1 ELSE 0 END AS bit
       |  FROM ${p}win a JOIN ${p}win bb ON bb.doc_id = a.doc_id AND bb.k = a.k + 1
       |  WHERE a.k < 56),
       |${p}sig AS MATERIALIZED (SELECT doc_id,
       |    CAST(sum(bit * (CAST(1 AS BIGINT) << b)) AS BIGINT) AS sig
       |  FROM ${p}cmp GROUP BY doc_id),
       |${p}bands AS (SELECT doc_id, kk.k AS band, (sig >> (14 * kk.k)) & 16383 AS x
       |  FROM ${p}sig, unnest(range(0, 4)) kk(k))""".stripMargin

  /** Cross-side flag CTEs over a prefixed `${src}sig`/`${src}bands`
    * chain: batch docs (doc_id % `bm` == 0) whose signature
    * popcount-matches a corpus-side signature, corpus hot buckets
    * gated — ends in `${p}fz(fid)`. The q114 flag machinery,
    * signature-generic (image and audio share it verbatim). `src`
    * names the signature-derivation prefix to READ, so a second flag
    * chain over the same signatures (q133's keep-state re-judgment —
    * the hot-bucket census must re-derive over survivors, post-hoc
    * filtering is NOT equivalent) reuses the MATERIALIZED sig/bands
    * instead of re-deriving them. */
  private def sigFlagSqlCtes(p: String, bm: Long, maxDist: Int,
                             maxBand: Int, stateWhere: String = "",
                             srcP: String = "",
                             stateCond: String = ""): String = {
    val src = if (srcP.isEmpty) p else srcP
    val cond =
      if (stateCond.nonEmpty) stateCond
      else s"b.doc_id % $bm <> 0$stateWhere"
    s"""${p}cb AS (SELECT b.* FROM ${src}bands b
       |       WHERE $cond),
       |${p}keep AS (SELECT band, x FROM ${p}cb GROUP BY band, x
       |         HAVING count(*) <= $maxBand),
       |${p}cbg AS (SELECT cb.doc_id AS sid, cb.band, cb.x FROM ${p}cb cb
       |        JOIN ${p}keep k ON k.band = cb.band AND k.x = cb.x),
       |${p}bb AS (SELECT * FROM ${src}bands WHERE doc_id % $bm = 0),
       |${p}cand AS (SELECT DISTINCT bb.doc_id, cbg.sid
       |         FROM ${p}bb bb JOIN ${p}cbg cbg
       |           ON cbg.band = bb.band AND cbg.x = bb.x),
       |${p}fz AS (SELECT DISTINCT c.doc_id AS fid
       |       FROM ${p}cand c
       |       JOIN ${src}sig sa ON sa.doc_id = c.doc_id
       |       JOIN ${src}sig sb ON sb.doc_id = c.sid
       |       WHERE bit_count(xor(sa.sig, sb.sig)) <= $maxDist)""".stripMargin
  }

  /** [[sigFlagSqlCtes]] with BOTH sides as free predicates (q140's eval
    * channels need state = an eval-item slice and member = batch /
    * quarantine / ingested — none of which is the `% bm` convention):
    * member docs whose `${srcP}sig` popcount-matches a state-side
    * signature, state hot buckets gated — ends in `${p}fz(fid)`. */
  private def sigFlagSqlCtesFor(p: String, srcP: String,
                                stateCond: String, memberCond: String,
                                maxDist: Int, maxBand: Int): String =
    s"""${p}cb AS (SELECT b.* FROM ${srcP}bands b WHERE $stateCond),
       |${p}keep AS (SELECT band, x FROM ${p}cb GROUP BY band, x
       |         HAVING count(*) <= $maxBand),
       |${p}cbg AS (SELECT cb.doc_id AS sid, cb.band, cb.x FROM ${p}cb cb
       |        JOIN ${p}keep k ON k.band = cb.band AND k.x = cb.x),
       |${p}bb AS (SELECT b.* FROM ${srcP}bands b WHERE $memberCond),
       |${p}cand AS (SELECT DISTINCT bb.doc_id, cbg.sid
       |         FROM ${p}bb bb JOIN ${p}cbg cbg
       |           ON cbg.band = bb.band AND cbg.x = bb.x),
       |${p}fz AS (SELECT DISTINCT c.doc_id AS fid
       |       FROM ${p}cand c
       |       JOIN ${srcP}sig sa ON sa.doc_id = c.doc_id
       |       JOIN ${srcP}sig sb ON sb.doc_id = c.sid
       |       WHERE bit_count(xor(sa.sig, sb.sig)) <= $maxDist)""".stripMargin

  def q110Sql(maxDist: Int = MaxDist, maxBand: Int = MaxBand): String =
    s"""WITH ${sigSqlCtes()},
       |keep AS (SELECT band, x FROM bands GROUP BY band, x
       |         HAVING count(*) > 1 AND count(*) <= $maxBand),
       |gated AS (SELECT b.* FROM bands b JOIN keep k
       |          ON k.band = b.band AND k.x = b.x),
       |cand AS (SELECT DISTINCT p.doc_id AS ida, q.doc_id AS idb
       |  FROM gated p JOIN gated q
       |    ON p.band = q.band AND p.x = q.x AND p.doc_id < q.doc_id)
       |SELECT c.ida, c.idb,
       |  CAST(bit_count(xor(sa.sig, sb.sig)) AS INT) AS hamming
       |FROM cand c
       |JOIN sig sa ON sa.doc_id = c.ida
       |JOIN sig sb ON sb.doc_id = c.idb
       |WHERE bit_count(xor(sa.sig, sb.sig)) <= $maxDist
       |ORDER BY ida, idb""".stripMargin

  /** q114: IMAGE ADMISSION — the q73/q92 ingest-tick shape on
    * perceptual signatures, completing the multimodal dedup leg into
    * the admission loop: an incoming image batch (doc_id % 17 = 0, the
    * [[graft.operators.Provenance.BatchMod]] convention) is judged
    * against the already-ingested corpus's PERSISTED signature state —
    * `dup_image` when a cross-side band collision exact-verifies at
    * Hamming ≤ `maxDist` (hamming 0 covers byte-identical renders, so
    * no separate exact tier is needed at the signature level), `new`
    * otherwise; per-source report.
    *
    * Scale shape: the corpus contributes 8-byte signatures — the state
    * an [[graft.io.ArtifactStore.IngestStateStore]] accumulates per
    * tick exactly like text hashes (MultimodalSpec pins the
    * state-backed form ≡ this live one); the batch derives its
    * signatures map-side at the codec seam; candidates are cross-side
    * band collisions only (corpus-side hot buckets gated at `maxBand`,
    * the q110 cap); verification is one popcount per candidate. The
    * live form computes both sides from the one table so the DuckDB
    * oracle re-derives every signature arithmetically. */
  def q114ImageAdmission(docs: DataFrame, maxDist: Int = MaxDist,
                         maxBand: Int = MaxBand): DataFrame = {
    val m = pmod(col("doc_id"), lit(graft.operators.Provenance.BatchMod))
    val sigs = imageSigs(docs).localCheckpoint() // bands + both verify sides
    val corpusSigs = sigs.join(
      docs.filter(m =!= 0).select("doc_id"), Seq("doc_id"), "left_semi")
    val batchSigs = sigs.join(
      docs.filter(m === 0).select("doc_id"), Seq("doc_id"), "left_semi")
    val flagged = flaggedAgainstState(corpusSigs, batchSigs, maxDist, maxBand)
    docs.filter(m === 0).select(col("doc_id"), col("source"))
      .join(flagged, col("doc_id") === col("fid"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_batch"),
        count(col("fid")).as("n_dup_image"),
        (count(lit(1)) - count(col("fid"))).as("n_new"))
      .orderBy("source")
  }

  /** Batch docs flagged as perceptual dups of the STATE side:
    * (doc_id, fid) with fid = doc_id for flagged rows — cross-side
    * band collisions (state hot buckets gated) popcount-verified.
    * Shared by the live q114 and the state-backed admission
    * (MultimodalSpec). */
  private[graft] def flaggedAgainstState(stateSigs: DataFrame,
                                         batchSigs: DataFrame,
                                         maxDist: Int,
                                         maxBand: Int): DataFrame = {
    val sb = sigBands(stateSigs)
    val keep = sb.groupBy("band", "x").agg(count(lit(1)).as("bn"))
      .filter(col("bn") <= maxBand).select("band", "x")
    val gated = sb.join(keep, Seq("band", "x"), "left_semi")
      .select(col("doc_id").as("sid"), col("band"), col("x"))
    val cand = sigBands(batchSigs).join(gated, Seq("band", "x"))
      .select(col("doc_id"), col("sid")).distinct()
    cand
      .join(batchSigs.select(col("doc_id"), col("sig").as("bsig")), "doc_id")
      .join(stateSigs.select(col("doc_id").as("sid2"), col("sig").as("ssig")),
        col("sid") === col("sid2"))
      .filter(expr(s"bit_count(bsig ^ ssig) <= $maxDist"))
      .select(col("doc_id").as("fid")).distinct()
  }

  def q114Sql(maxDist: Int = MaxDist, maxBand: Int = MaxBand): String = {
    val bm = graft.operators.Provenance.BatchMod
    s"""WITH ${sigSqlCtes()},
       |${sigFlagSqlCtes("", bm, maxDist, maxBand)}
       |SELECT d.source, count(*) AS n_batch, count(fz.fid) AS n_dup_image,
       |  count(*) - count(fz.fid) AS n_new
       |FROM documents d LEFT JOIN fz ON fz.fid = d.doc_id
       |WHERE d.doc_id % $bm = 0
       |GROUP BY d.source ORDER BY d.source""".stripMargin
  }

  // ---- q116: perceptual audio dedup (envelope sig + Hamming bands) -----

  /** Planted near-identical clips: every doc with id ≡ 2 (mod 5)
    * renders its base doc's (id − 2) clip — same seed, same length —
    * with a sparse +1000 perturbation every 101st sample. */
  private val AudioStride = 101
  private val AudioDelta = 1000
  private def q116Spec(docId: Long): (Long, Boolean) =
    if (docId >= 2 && docId % 5 == 2) (docId - 2, true) else (docId, false)
  private def q116Len(seed: Long): Int = (200 + seed % 150).toInt

  /** (doc_id, sig) — every doc's clip synthesized, decoded through the
    * real `javax.sound` seam, envelope-hashed. */
  private[graft] def audioSigs(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    val sigSchema = StructType(Seq(StructField("doc_id", LongType),
      StructField("sig", LongType)))
    spark.createDataFrame(
      docs.select("doc_id").rdd.mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          val (seed, pert) = q116Spec(id)
          val wav = Codecs.synthTexturedWav(seed, 8000, q116Len(seed),
            if (pert) AudioStride else 0, AudioDelta)
          Row(id, Codecs.audioEnvelopeSig56(wav).getOrElse(-1L))
        }
      }, sigSchema)
  }

  /** q116: PERCEPTUAL audio dedup — the audio leg of the multimodal
    * dedup surface, completing image (q110) + audio: per doc a
    * deterministic PCM clip (planting per [[q116Spec]]) decoded through
    * the REAL `javax.sound` codec seam into a 56-bit envelope signature
    * ([[Codecs.audioEnvelopeSig56]]), then exactly the q110 census
    * machinery — four 14-bit Hamming bands gate candidates (hot buckets
    * capped), popcount verifies at ≤ `maxDist`. The DuckDB oracle
    * re-derives every signature arithmetically from the sample formula
    * (windowed |amplitude| sums compared by integer cross-products) —
    * the q71/q110 convention on a second modality, certifying the
    * whole decode→window→compare path. Scale shape identical to q110:
    * 8-byte signatures map-side, banded equi-join, popcount verify. */
  def q116AudioDedup(docs: DataFrame, maxDist: Int = MaxDist,
                     maxBand: Int = MaxBand): DataFrame = {
    // severed: same multi-reference argument as q110 (review finding)
    val sigs = audioSigs(docs).localCheckpoint()
    val bands = sigBands(sigs)
    val keep = bands.groupBy("band", "x").agg(count(lit(1)).as("bn"))
      .filter(col("bn") > 1 && col("bn") <= maxBand)
      .select("band", "x")
    val gated = bands.join(keep, Seq("band", "x"), "left_semi")
    val cand = gated.as("p").join(gated.as("q"),
        col("p.band") === col("q.band") && col("p.x") === col("q.x") &&
          col("p.doc_id") < col("q.doc_id"))
      .select(col("p.doc_id").as("ida"), col("q.doc_id").as("idb")).distinct()
    cand
      .join(sigs.select(col("doc_id").as("ida"), col("sig").as("sa")), "ida")
      .join(sigs.select(col("doc_id").as("idb"), col("sig").as("sb")), "idb")
      .select(col("ida"), col("idb"),
        expr("cast(bit_count(sa ^ sb) AS int)").as("hamming"))
      .filter(col("hamming") <= maxDist)
      .orderBy("ida", "idb")
  }

  def q116Sql(maxDist: Int = MaxDist, maxBand: Int = MaxBand): String =
    s"""WITH ${audioSigSqlCtes()},
       |keep AS (SELECT band, x FROM bands GROUP BY band, x
       |         HAVING count(*) > 1 AND count(*) <= $maxBand),
       |gated AS (SELECT b.* FROM bands b JOIN keep k
       |          ON k.band = b.band AND k.x = b.x),
       |cand AS (SELECT DISTINCT p.doc_id AS ida, q.doc_id AS idb
       |  FROM gated p JOIN gated q
       |    ON p.band = q.band AND p.x = q.x AND p.doc_id < q.doc_id)
       |SELECT c.ida, c.idb,
       |  CAST(bit_count(xor(sa.sig, sb.sig)) AS INT) AS hamming
       |FROM cand c
       |JOIN sig sa ON sa.doc_id = c.ida
       |JOIN sig sb ON sb.doc_id = c.idb
       |WHERE bit_count(xor(sa.sig, sb.sig)) <= $maxDist
       |ORDER BY ida, idb""".stripMargin

  // ---- q118: UNIFIED multimodal admission tick -------------------------

  /** The unified tick's rungs — the text ladder plus the image and
    * audio signature legs ([[Evidence]]) — as the flag frames
    * [[graft.operators.Provenance.gatedTickFrame]] joins and as the
    * ladder its reports read. */
  private def mmFlags(fuzzy: DataFrame, imFlag: DataFrame,
                      auFlag: DataFrame): Seq[(Evidence, DataFrame)] =
    Seq(Evidence.Fuzzy -> fuzzy, Evidence.Image -> imFlag,
      Evidence.Audio -> auFlag)

  private def mmLadder: Seq[Evidence] =
    graft.operators.Provenance.ladder(Evidence.Image, Evidence.Audio)

  /** q118: the UNIFIED multimodal admission tick — r10 verdict item 2:
    * "a doc with text + image + audio columns gets no single verdict".
    * One q103-shaped tick where a batch doc (doc_id % 17 == 0) carrying
    * all three modalities is judged once, with documented precedence:
    * `dup_corpus_exact` (text hash in corpus state) → `dup_corpus_fuzzy`
    * (verified text near-dup) → `dup_image` (dHash popcount-match vs a
    * corpus image, q114's leg) → `dup_audio` (envelope-sig match vs a
    * corpus clip, q116's machinery as an ADMISSION leg — previously
    * census-only) → `low_quality` (budget gate over the docs NO
    * modality flagged) → `new`. An audio-only near-dup is now rejected
    * at ingest — the leg the census queries couldn't exercise.
    *
    * Oracle: q103's text chain + BOTH arithmetic signature chains
    * (prefixed `im_`/`au_` — the CTE-namespace convention) + the two
    * cross-side flag chains, composed in ONE WITH clause; a hash match
    * certifies every leg and the precedence logic together.
    *
    * Scale shape: the text legs are q103's (persistable 8–26-byte
    * state, map-side batch hashing, candidate-driven verify); each
    * modality adds 8-byte signatures computed map-side at the codec
    * seam, a banded cross-side equi-join with corpus hot buckets gated
    * (`maxBand`), and one popcount per candidate. Payloads never enter
    * a shuffle. The deployment form is [[graft.io.IngestLoop.runTick]]
    * on [[graft.io.IngestLoop.MmStores]] (signature state in
    * IngestStateStores, fold-back per tick, retraction-aware) —
    * MmIngestSpec pins the two equal. */
  def q118MultimodalAdmission(docs: DataFrame, threshold: Double = 0.2,
                              lowFrac: Double = 0.25, maxDist: Int = MaxDist,
                              maxBand: Int = MaxBand): DataFrame = {
    import graft.operators.{Fuzzy, Provenance, QualityModel}
    val bm = graft.operators.Provenance.BatchMod
    val m = pmod(col("doc_id"), lit(bm))
    val corpus = docs.filter(m =!= 0)
    val batch = docs.filter(m === 0)
    val fuzzy = Fuzzy.lshCrossPairs(docs,
        (c: org.apache.spark.sql.Column) => pmod(c, lit(bm)) === 0, threshold)
      .select(col("eval_id").as("fid")).distinct()
    val w = QualityModel.weights(corpus, scope = s"admission$bm")
    // severed: each signature frame is RDD-backed and read by bands +
    // both verify sides (the q110/q114 review finding); the two
    // modalities are independent — materialize concurrently
    val Seq(sigsI, sigsA) = graft.operators.Materialize.par(
      Seq(imageSigs(docs), audioSigs(docs)))
    val imFlag = flaggedAgainstState(sigsI.filter(m =!= 0),
      sigsI.filter(m === 0), maxDist, maxBand).select(col("fid").as("ifid"))
    val auFlag = flaggedAgainstState(sigsA.filter(m =!= 0),
      sigsA.filter(m === 0), maxDist, maxBand).select(col("fid").as("afid"))
    Provenance.gatedTickReport(Provenance.gatedTickFrame(batch,
      Provenance.corpusHashState(corpus), mmFlags(fuzzy, imFlag, auFlag), w,
      lowFrac), mmLadder)
  }

  def q118Sql(threshold: Double = 0.2, lowFrac: Double = 0.25,
              maxDist: Int = MaxDist, maxBand: Int = MaxBand,
              iters: Int = graft.operators.QualityModel.DefaultIters,
              trainN: Int = graft.operators.QualityModel.DefaultTrainN): String =
    mmAdmissionSql(threshold, lowFrac, maxDist, maxBand, iters, trainN,
      keepState = false)

  /** The shared q118/q126 oracle generator: the unified-multimodal
    * WITH chain, with every CORPUS-STATE side optionally filtered to
    * the takedown survivors (`doc_id % RetractMod <> RetractRem`) —
    * the exact-hash state, the LSH pair universe, and both signature
    * flag chains' state sides (including their hot-bucket censuses,
    * which must re-derive over survivors exactly as
    * [[flaggedAgainstState]] does on a filtered state frame). The
    * model CTEs always train on the FULL corpus: a takedown does not
    * retrain the frozen model (the q104/q109 loop gates that). */
  private def mmAdmissionSql(threshold: Double, lowFrac: Double,
                             maxDist: Int, maxBand: Int,
                             iters: Int, trainN: Int,
                             keepState: Boolean): String = {
    import graft.operators.{Fuzzy, Provenance, QualityModel}
    val bm = Provenance.BatchMod
    val keepSql =
      s"doc_id % ${Provenance.RetractMod} <> ${Provenance.RetractRem}"
    val tokWhere =
      if (keepState) s" WHERE doc_id % $bm = 0 OR $keepSql" else ""
    val cWhere = if (keepState) s" AND $keepSql" else ""
    val sigWhere = if (keepState) s" AND b.$keepSql" else ""
    s"""WITH ${Fuzzy.lshPairsSqlCtes(
         "tok AS (SELECT doc_id, regexp_split_to_array(text, ' ') AS a " +
           s"FROM documents$tokWhere)",
         threshold)},
       |h AS (SELECT doc_id, source,
       |        CAST(concat('0x', substr(md5(text), 1, 15)) AS BIGINT) AS h
       |      FROM documents),
       |b AS (SELECT doc_id, source, h FROM h WHERE doc_id % $bm = 0),
       |c AS (SELECT DISTINCT h FROM h WHERE doc_id % $bm <> 0$cWhere),
       |fz AS (SELECT DISTINCT CASE WHEN ida % $bm = 0 THEN ida ELSE idb END AS fid
       |       FROM pairs WHERE (ida % $bm = 0) <> (idb % $bm = 0)),
       |${QualityModel.featureSqlCtes(
         s"(SELECT * FROM documents WHERE doc_id % $bm <> 0)", "ctr_")},
       |${QualityModel.trainSqlCtes(iters, trainN, "ctr_")},
       |${QualityModel.featureSqlCtes(
         s"(SELECT * FROM documents WHERE doc_id % $bm = 0)", "bf_")},
       |s AS (SELECT doc_id, ${QualityModel.scoreSql("w")} AS p
       |      FROM bf_feat, ctr_w w),
       |${sigSqlCtes("im_")},
       |${sigFlagSqlCtes("im_", bm, maxDist, maxBand, sigWhere)},
       |${audioSigSqlCtes("au_")},
       |${sigFlagSqlCtes("au_", bm, maxDist, maxBand, sigWhere)},
       |j AS (SELECT b.doc_id, b.source, c.h AS ch, fz.fid,
       |        imf.fid AS ifid, auf.fid AS afid, s.p
       |      FROM b LEFT JOIN c ON b.h = c.h
       |      LEFT JOIN fz ON fz.fid = b.doc_id
       |      LEFT JOIN im_fz imf ON imf.fid = b.doc_id
       |      LEFT JOIN au_fz auf ON auf.fid = b.doc_id
       |      JOIN s ON s.doc_id = b.doc_id),
       |lq AS (SELECT doc_id,
       |         cume_dist() OVER (ORDER BY p, doc_id) <= $lowFrac AS lq
       |       FROM j WHERE ch IS NULL AND fid IS NULL
       |         AND ifid IS NULL AND afid IS NULL)
       |SELECT j.source, count(*) AS n_batch, count(j.ch) AS n_dup_exact,
       |  count(CASE WHEN j.ch IS NULL THEN j.fid END) AS n_dup_fuzzy,
       |  count(CASE WHEN j.ch IS NULL AND j.fid IS NULL THEN j.ifid END)
       |    AS n_dup_image,
       |  count(CASE WHEN j.ch IS NULL AND j.fid IS NULL AND j.ifid IS NULL
       |    THEN j.afid END) AS n_dup_audio,
       |  count(CASE WHEN lq.lq THEN 1 END) AS n_low_quality,
       |  count(CASE WHEN lq.lq = false THEN 1 END) AS n_new
       |FROM j LEFT JOIN lq ON lq.doc_id = j.doc_id
       |GROUP BY j.source ORDER BY source""".stripMargin
  }

  /** q126: the MULTIMODAL TAKEDOWN — q117's retraction discipline
    * applied to the unified five-store admission state (q118): corpus
    * docs with doc_id % RetractMod == RetractRem are retracted from
    * EVERY modality's state at once (the shared-tombstone argument of
    * [[graft.io.IngestLoop.MmStores]] — one takedown, five stores), and
    * the q118 batch is judged against the survivors. A batch doc whose
    * ONLY image partner was retracted stops being `dup_image` (same per
    * modality), so the takedown observably shifts verdicts across the
    * whole precedence ladder — MmIngestSpec pins the decisive contrast
    * vs q118 on the image and audio legs specifically, and that the
    * store form (retractTick on the shared tombstone store, then
    * runTick on the mm stores) reproduces this live form tick for tick.
    *
    * The quality model stays FROZEN (trained on the full pre-takedown
    * corpus): a takedown is not a retrain — the q104/q109/q113 loop
    * owns that choice. The oracle re-derives every corpus-state side
    * (exact hashes, the LSH pair universe, both signature chains WITH
    * their hot-bucket censuses) filtered to survivors, in the same one
    * WITH clause — certifying takedown ≡ state-without-the-docs on all
    * five legs simultaneously.
    *
    * Scale shape: q118's plus one broadcast-sized anti-filter per
    * state relation (the q117 argument — takedown-sized, never a
    * corpus rescan; here expressed as the id-modulus the oracle can
    * share). */
  def q126MultimodalRetraction(docs: DataFrame, threshold: Double = 0.2,
                               lowFrac: Double = 0.25, maxDist: Int = MaxDist,
                               maxBand: Int = MaxBand): DataFrame = {
    import graft.operators.{Fuzzy, Provenance, QualityModel}
    val bm = Provenance.BatchMod
    val m = pmod(col("doc_id"), lit(bm))
    val keep =
      pmod(col("doc_id"), lit(Provenance.RetractMod)) =!= Provenance.RetractRem
    val batch = docs.filter(m === 0)
    // frozen pre-takedown model — trained on the FULL corpus
    val w = QualityModel.weights(docs.filter(m =!= 0), scope = s"admission$bm")
    // every state side filtered to the survivors; the pair universe is
    // batch ∪ surviving corpus so no retracted doc can verify a pair
    val fuzzy = Fuzzy.lshCrossPairs(docs.filter(m === 0 || keep),
        (c: org.apache.spark.sql.Column) => pmod(c, lit(bm)) === 0, threshold)
      .select(col("eval_id").as("fid")).distinct()
    val Seq(sigsI, sigsA) = graft.operators.Materialize.par(
      Seq(imageSigs(docs), audioSigs(docs)))
    val imFlag = flaggedAgainstState(sigsI.filter(m =!= 0 && keep),
      sigsI.filter(m === 0), maxDist, maxBand).select(col("fid").as("ifid"))
    val auFlag = flaggedAgainstState(sigsA.filter(m =!= 0 && keep),
      sigsA.filter(m === 0), maxDist, maxBand).select(col("fid").as("afid"))
    Provenance.gatedTickReport(Provenance.gatedTickFrame(batch,
      Provenance.corpusHashState(docs.filter(m =!= 0 && keep)),
      mmFlags(fuzzy, imFlag, auFlag), w, lowFrac), mmLadder)
  }

  def q126Sql(threshold: Double = 0.2, lowFrac: Double = 0.25,
              maxDist: Int = MaxDist, maxBand: Int = MaxBand,
              iters: Int = graft.operators.QualityModel.DefaultIters,
              trainN: Int = graft.operators.QualityModel.DefaultTrainN): String =
    mmAdmissionSql(threshold, lowFrac, maxDist, maxBand, iters, trainN,
      keepState = true)

  /** q133: MULTIMODAL RE-ADJUDICATION — q131's "rejected ≠ discarded"
    * reaching every modality's evidence. A doc rejected as `dup_image`
    * or `dup_audio` was never quality-checked either, and its rejection
    * evidence is signature-state rows a takedown can remove — text-only
    * re-adjudication (q131) would wrongly re-admit an image dup whose
    * partner still stands, or never recover one whose partner left.
    * Three phases in one oracle WITH clause:
    *
    *   1. the q118 unified tick against the FULL corpus state; its
    *      dup-rejected batch docs (all four evidence classes, q118's
    *      precedence) form the quarantine;
    *   2. the q126 takedown (corpus docs with doc_id % RetractMod ==
    *      RetractRem) leaves every modality's state — including both
    *      signature chains' HOT-BUCKET censuses, which must re-derive
    *      over the survivors (a gated bucket can open when its census
    *      drops below maxBand; post-hoc filtering of the full-state
    *      flags is NOT equivalent — the oracle's keep-state flag
    *      chains re-run the census with the survivor filter, reusing
    *      the MATERIALIZED signature derivations);
    *   3. the quarantine re-judges against the survivor state on ALL
    *      gates (exact → fuzzy → image → audio → quality window over
    *      the escapees, the frozen full-corpus model).
    *
    * Output per source: quarantine size split by ORIGINAL evidence
    * class × RE-ADJUDICATED verdict. GenData's planted cross-modality
    * partners make the contrast decisive on each leg (the q126
    * MmIngestSpec classes). Deployment form:
    * [[graft.io.IngestLoop.readjudicateTick]] on the mm stores, over
    * the same [[graft.io.IngestLoop.Quarantine]] pair — mm quarantine rows
    * additionally carry the doc's 8-byte image/audio signatures, so
    * the re-judgment reads no payloads (signatures are deterministic
    * functions of the doc, not of the state).
    *
    * Scale shape: q118's chain + quarantine-sized re-judgment; the
    * keep-state signature flags reuse the checkpointed signature
    * frames, the takedown filters are id-modulus predicates on
    * 8-byte rows, and payloads never enter a shuffle. */
  def q133MmReadjudication(docs: DataFrame, threshold: Double = 0.2,
                           lowFrac: Double = 0.25, maxDist: Int = MaxDist,
                           maxBand: Int = MaxBand): DataFrame = {
    import graft.operators.{Fuzzy, Provenance, QualityModel}
    val bm = Provenance.BatchMod
    val m = pmod(col("doc_id"), lit(bm))
    val corpus = docs.filter(m =!= 0)
    val batch = docs.filter(m === 0)
    val w = QualityModel.weights(corpus, scope = s"admission$bm")
    // ONE verified text-pair relation, both directions — read by the
    // full-state tick AND the keep-state re-judgment (the q131 shape;
    // band collisions are per-doc, so post-hoc state filtering of TEXT
    // pairs IS equivalent — unlike the gated signature chains)
    // pr / sigsI / sigsA are mutually independent severed relations —
    // materialize concurrently (guide §2.6 overlap); pr feeds only a
    // union, which drops a broadcast hint, so it is checkpointed plain
    import graft.operators.Materialize
    val Seq(pr, sigsI, sigsA) = Materialize.branches(docs.sparkSession, Seq(
      () => Fuzzy.lshVerifiedPairs(docs, threshold).select("ida", "idb")
        .localCheckpoint(),
      () => Materialize.sever(imageSigs(docs)),
      () => Materialize.sever(audioSigs(docs))))
    val adj = pr.union(pr.select(col("idb"), col("ida"))).toDF("a", "b")
    val fzFull = adj.filter(pmod(col("b"), lit(bm)) === 0 &&
        pmod(col("a"), lit(bm)) =!= 0)
      .select(col("b").as("fid")).distinct()
    val imFull = flaggedAgainstState(sigsI.filter(m =!= 0),
      sigsI.filter(m === 0), maxDist, maxBand).select(col("fid").as("ifid"))
    val auFull = flaggedAgainstState(sigsA.filter(m =!= 0),
      sigsA.filter(m === 0), maxDist, maxBand).select(col("fid").as("afid"))
    val v = Provenance.gatedTickFrame(batch,
      Provenance.corpusHashState(corpus), mmFlags(fzFull, imFull, auFull), w,
      lowFrac)
    val quar = v.filter(!Provenance.novel(mmLadder))
      .select(col("doc_id"), Provenance.verdictOf(mmLadder).as("verdict_t1"))
    val quarDocs = docs.join(quar.select("doc_id"), Seq("doc_id"),
      "left_semi")
    // ingested-through-the-tick = corpus ∪ the tick's ADMITTED docs
    // (the q117/q131 membership); the takedown class leaves it
    val ing = corpus.select("doc_id")
      .union(v.filter(col("lq") === false).select("doc_id"))
    val keepIds = ing.filter(
      pmod(col("doc_id"), lit(Provenance.RetractMod)) =!=
        Provenance.RetractRem)
    val keepDocs = docs.join(keepIds, Seq("doc_id"), "left_semi")
    val ck = Provenance.corpusHashState(keepDocs)
    val fzk = adj
      .join(quar.select(col("doc_id").as("b")), Seq("b"), "left_semi")
      .join(keepIds.withColumnRenamed("doc_id", "a"), Seq("a"), "left_semi")
      .select(col("b").as("fid")).distinct()
    val quarSem = (s: DataFrame) =>
      s.join(quar.select("doc_id"), Seq("doc_id"), "left_semi")
    val keepSem = (s: DataFrame) =>
      s.join(keepIds, Seq("doc_id"), "left_semi")
    val imK = flaggedAgainstState(keepSem(sigsI),
      quarSem(sigsI), maxDist, maxBand).select(col("fid").as("ifid"))
    val auK = flaggedAgainstState(keepSem(sigsA),
      quarSem(sigsA), maxDist, maxBand).select(col("fid").as("afid"))
    val vr = Provenance.gatedTickFrame(quarDocs, ck, mmFlags(fzk, imK, auK),
      w, lowFrac)
    Provenance.readjReport(vr, quar, mmLadder)
  }

  def q133Sql(threshold: Double = 0.2, lowFrac: Double = 0.25,
              maxDist: Int = MaxDist, maxBand: Int = MaxBand,
              iters: Int = graft.operators.QualityModel.DefaultIters,
              trainN: Int = graft.operators.QualityModel.DefaultTrainN)
      : String = {
    import graft.operators.{Fuzzy, Provenance, QualityModel}
    val bm = Provenance.BatchMod
    val keepSql =
      s"% ${Provenance.RetractMod} <> ${Provenance.RetractRem}"
    s"""WITH ${Fuzzy.lshPairsSqlCtes(
         "tok AS (SELECT doc_id, regexp_split_to_array(text, ' ') AS a FROM documents)",
         threshold)},
       |h AS MATERIALIZED (SELECT doc_id, source,
       |        CAST(concat('0x', substr(md5(text), 1, 15)) AS BIGINT) AS h
       |      FROM documents),
       |b AS (SELECT doc_id, source, h FROM h WHERE doc_id % $bm = 0),
       |c AS (SELECT DISTINCT h FROM h WHERE doc_id % $bm <> 0),
       |fz AS (SELECT DISTINCT CASE WHEN ida % $bm = 0 THEN ida ELSE idb END AS fid
       |       FROM pairs WHERE (ida % $bm = 0) <> (idb % $bm = 0)),
       |${QualityModel.featureSqlCtes(
         s"(SELECT * FROM documents WHERE doc_id % $bm <> 0)", "ctr_")},
       |${QualityModel.trainSqlCtes(iters, trainN, "ctr_")},
       |${QualityModel.featureSqlCtes(
         s"(SELECT * FROM documents WHERE doc_id % $bm = 0)", "bf_")},
       |s AS (SELECT doc_id, ${QualityModel.scoreSql("w")} AS p
       |      FROM bf_feat, ctr_w w),
       |${sigSqlCtes("im_")},
       |${sigFlagSqlCtes("im_", bm, maxDist, maxBand)},
       |${audioSigSqlCtes("au_")},
       |${sigFlagSqlCtes("au_", bm, maxDist, maxBand)},
       |j AS (SELECT b.doc_id, b.source, c.h AS ch, fz.fid,
       |        imf.fid AS ifid, auf.fid AS afid, s.p
       |      FROM b LEFT JOIN c ON b.h = c.h
       |      LEFT JOIN fz ON fz.fid = b.doc_id
       |      LEFT JOIN im_fz imf ON imf.fid = b.doc_id
       |      LEFT JOIN au_fz auf ON auf.fid = b.doc_id
       |      JOIN s ON s.doc_id = b.doc_id),
       |quar AS MATERIALIZED (SELECT doc_id, source,
       |        CASE WHEN ch IS NOT NULL THEN 'dup_exact'
       |             WHEN fid IS NOT NULL THEN 'dup_fuzzy'
       |             WHEN ifid IS NOT NULL THEN 'dup_image'
       |             ELSE 'dup_audio' END AS verdict_t1, p
       |      FROM j WHERE ch IS NOT NULL OR fid IS NOT NULL
       |        OR ifid IS NOT NULL OR afid IS NOT NULL),
       |lq AS (SELECT doc_id,
       |         cume_dist() OVER (ORDER BY p, doc_id) <= $lowFrac AS lq
       |       FROM j WHERE ch IS NULL AND fid IS NULL
       |         AND ifid IS NULL AND afid IS NULL),
       |keep AS MATERIALIZED (SELECT doc_id FROM
       |        (SELECT doc_id FROM documents WHERE doc_id % $bm <> 0
       |         UNION ALL SELECT doc_id FROM lq WHERE lq = false)
       |      WHERE doc_id $keepSql),
       |ck AS MATERIALIZED (SELECT DISTINCT h.h FROM h
       |      JOIN keep k ON k.doc_id = h.doc_id),
       |adjk AS (SELECT ida AS a, idb AS b FROM pairs
       |         UNION ALL SELECT idb AS a, ida AS b FROM pairs),
       |fzk AS (SELECT DISTINCT adjk.b AS fid FROM adjk
       |        JOIN keep k ON adjk.a = k.doc_id
       |        JOIN quar q ON adjk.b = q.doc_id),
       |${sigFlagSqlCtes("imk_", bm, maxDist, maxBand, srcP = "im_",
         stateCond = "b.doc_id IN (SELECT doc_id FROM keep)")},
       |${sigFlagSqlCtes("auk_", bm, maxDist, maxBand, srcP = "au_",
         stateCond = "b.doc_id IN (SELECT doc_id FROM keep)")},
       |jq AS MATERIALIZED (SELECT q.doc_id, q.source, q.verdict_t1,
       |        ck.h AS ch, fzk.fid, imk.fid AS ifid, auk.fid AS afid, q.p
       |      FROM quar q
       |      JOIN h hh ON hh.doc_id = q.doc_id
       |      LEFT JOIN ck ON hh.h = ck.h
       |      LEFT JOIN fzk ON fzk.fid = q.doc_id
       |      LEFT JOIN imk_fz imk ON imk.fid = q.doc_id
       |      LEFT JOIN auk_fz auk ON auk.fid = q.doc_id),
       |lqq AS (SELECT doc_id,
       |          cume_dist() OVER (ORDER BY p, doc_id) <= $lowFrac AS lq
       |        FROM jq WHERE ch IS NULL AND fid IS NULL
       |          AND ifid IS NULL AND afid IS NULL)
       |SELECT jq.source, count(*) AS n_quarantined,
       |  count(CASE WHEN verdict_t1 = 'dup_exact' THEN 1 END) AS n_exact_t1,
       |  count(CASE WHEN verdict_t1 = 'dup_fuzzy' THEN 1 END) AS n_fuzzy_t1,
       |  count(CASE WHEN verdict_t1 = 'dup_image' THEN 1 END) AS n_image_t1,
       |  count(CASE WHEN verdict_t1 = 'dup_audio' THEN 1 END) AS n_audio_t1,
       |  count(ch) AS n_still_exact,
       |  count(CASE WHEN ch IS NULL THEN fid END) AS n_still_fuzzy,
       |  count(CASE WHEN ch IS NULL AND fid IS NULL THEN ifid END)
       |    AS n_still_image,
       |  count(CASE WHEN ch IS NULL AND fid IS NULL AND ifid IS NULL
       |    THEN afid END) AS n_still_audio,
       |  count(CASE WHEN lqq.lq THEN 1 END) AS n_low_quality,
       |  count(CASE WHEN lqq.lq = false THEN 1 END) AS n_readmitted
       |FROM jq LEFT JOIN lqq ON lqq.doc_id = jq.doc_id
       |GROUP BY jq.source ORDER BY jq.source""".stripMargin
  }

  /** Oracle twin of [[q71ImageDecode]]: dims from the same formula,
    * pixel sum re-derived arithmetically (never decoding anything) —
    * agreement certifies the Spark side's real codec round trip. */
  def q71Sql: String =
    """WITH dims AS (
      |  SELECT doc_id,
      |         CAST(8 + doc_id % 24 AS INT) AS width,
      |         CAST(8 + (doc_id // 3) % 16 AS INT) AS height
      |  FROM documents),
      |flat AS (
      |  SELECT doc_id, width, height,
      |         unnest(generate_series(0, CAST(3 * width * height - 1 AS BIGINT))) AS i
      |  FROM dims)
      |SELECT doc_id, width, height, CAST(3 AS INT) AS channels,
      |       CAST(width AS BIGINT) * height AS n_pixels,
      |       CAST(sum((doc_id * 131 + i) % 256) AS BIGINT) AS pix_sum
      |FROM flat
      |GROUP BY doc_id, width, height
      |ORDER BY doc_id""".stripMargin

  // ---- q140: MULTIMODAL eval contamination ------------------------------

  /** q140: eval-set contamination by MODALITY SIGNATURE (r12 verdict
    * item 6) — q136's channels are 8-grams and text LSH, so a held-out
    * eval IMAGE or AUDIO clip reaching the corpus was invisible: a doc
    * whose text is novel but whose image renders an eval item's seed
    * admitted, trained, and leaked the eval set. Here the
    * `contaminated` class fires on perceptual evidence — the q110/q116
    * signature machinery pointed at the EVAL side — with the same
    * update loops as q136, all in one oracle-checked frame:
    *
    *   1. tick 1 — batch (id % 17 ≥ 10, eval items excluded) judged
    *      exact → fuzzy → CONTAMINATED(image ∪ audio vs eval set 1's
    *      signatures) → quality; contaminated docs quarantine. The
    *      planted image pair: eval item 7's seed is rendered by batch
    *      doc 10 (the q110 planting rule B = A+3, B%7 = 3); the
    *      planted audio pair: eval item 435's clip by batch doc 437
    *      (B = A+2, B%5 = 2).
    *   2. EVAL UPDATE — items with id % 3 == 1 withdraw (item 7
    *      leaves), eval set 2's items add;
    *   3a. RE-ADJUDICATION — doc 10 re-admits (its only contaminating
    *      signature withdrew — the withdrawal direction); doc 437
    *      stays held by surviving item 435 (the hold direction);
    *   3b. RETRO-CATCH — ingested docs whose signatures hit the ADDED
    *      items: corpus doc 262 renders added item 259's image and
    *      corpus doc 247 renders added item 245's audio, caught with
    *      zero payload re-reads.
    *
    * Division of labor with q136: this is the MODALITY channel of the
    * same eval-set discipline — the deployment form runs both (an
    * EvalLeg's text channels plus these signature channels against the
    * mm loop's maintained sig stores), and the oracle here re-derives
    * every signature arithmetically like q110/q116.
    *
    * Scale shape: eval-side signatures are eval-suite-sized (8 bytes
    * each, broadcastable); member sides probe the SAME maintained
    * signature relations the mm dedup loop already keeps (no new
    * corpus-sized state); candidates are cross-side band collisions
    * with eval hot buckets gated; verification is one popcount per
    * candidate. Payloads are decoded once at the codec seam and never
    * re-read by the update loops. */
  def q140MmEvalContamination(docs: DataFrame, maxDist: Int = MaxDist,
                              maxBand: Int = MaxBand, threshold: Double = 0.2,
                              lowFrac: Double = 0.25): DataFrame = {
    import graft.operators.{Decontam, Fuzzy, Provenance, QualityModel}
    val m = pmod(col("doc_id"), lit(Provenance.BatchMod))
    val corpus = Decontam.evalFree(docs).filter(m.between(1, 9))
    val t1 = Decontam.evalFree(docs).filter(m >= 10)
    val eval1Ids = Decontam.eval1Docs(docs).select("doc_id")
    val addIds = Decontam.eval2Docs(docs).select("doc_id")
    val liveEvalIds = eval1Ids
      .join(Decontam.withdrawEvalIds(docs), Seq("doc_id"), "left_anti")
      .union(addIds)
    // ONE signature relation per modality, severed — read by all three
    // phases' flag joins (the q136 sever discipline on the sig legs);
    // the two sig relations and the text pair relation below are
    // mutually independent, so they materialize concurrently
    // (Materialize.branches — guide §2.6 overlap); pr feeds only a
    // union, which drops a broadcast hint, so it is checkpointed plain
    import graft.operators.Materialize
    val Seq(iSigs, aSigs, pr) = Materialize.branches(docs.sparkSession, Seq(
      () => Materialize.sever(imageSigs(docs)),
      () => Materialize.sever(audioSigs(docs)),
      () => Fuzzy.lshVerifiedPairs(docs, threshold).select("ida", "idb")
        .localCheckpoint()))
    def contamIds(memberIds: DataFrame, evalIds: DataFrame): DataFrame = {
      def hits(sigs: DataFrame) = flaggedAgainstState(
        sigs.join(evalIds, Seq("doc_id"), "left_semi"),
        sigs.join(memberIds, Seq("doc_id"), "left_semi"),
        maxDist, maxBand)
      hits(iSigs).union(hits(aSigs)).distinct()
        .select(col("fid").as("cid"))
    }
    val adj = pr.union(pr.select(col("idb"), col("ida"))).toDF("a", "b")
    val w = QualityModel.weights(corpus,
      scope = s"decontam${Provenance.BatchMod}")

    val corpusIds = corpus.select("doc_id")
    val t1Ids = t1.select("doc_id")
    val fz1 = adj.join(t1Ids.withColumnRenamed("doc_id", "b"), Seq("b"),
        "left_semi")
      .join(corpusIds.withColumnRenamed("doc_id", "a"), Seq("a"),
        "left_semi")
      .select(col("b").as("fid")).distinct()
    val v1 = Provenance.gatedTickFrame(t1,
      Provenance.corpusHashState(corpus),
      Seq(Evidence.Fuzzy -> fz1,
        Evidence.Contaminated -> contamIds(t1Ids, eval1Ids)), w, lowFrac)
    val adm1 = v1.filter(col("lq") === false).select("doc_id")
    val ingIds = graft.operators.Materialize.sever(corpusIds.union(adm1))
    val ingDocs = docs.join(ingIds, Seq("doc_id"), "left_semi")

    val quarIds = graft.operators.Materialize.sever(
      v1.filter(col("ch").isNull && col("fid").isNull &&
        col("cid").isNotNull).select("doc_id"))
    val quarDocs = docs.join(quarIds, Seq("doc_id"), "left_semi")
    val fz2 = adj.join(quarIds.withColumnRenamed("doc_id", "b"), Seq("b"),
        "left_semi")
      .join(ingIds.withColumnRenamed("doc_id", "a"), Seq("a"),
        "left_semi")
      .select(col("b").as("fid")).distinct()
    val vr = Provenance.gatedTickFrame(
      quarDocs.select("doc_id", "source", "text"),
      Provenance.corpusHashState(ingDocs),
      Seq(Evidence.Fuzzy -> fz2,
        Evidence.Contaminated -> contamIds(quarIds, liveEvalIds)), w, lowFrac)

    val caught = contamIds(ingIds, addIds)
    val rCatch = docs.join(
        caught.withColumnRenamed("cid", "doc_id"), Seq("doc_id"),
        "left_semi")
      .groupBy("source").agg(count(lit(1)).as("n_caught"))

    val r1 = Provenance.gatedTickReport(v1,
      Provenance.ladder(Evidence.Contaminated))
    val rReadj = vr.groupBy("source")
      .agg(count(when(col("lq") === false, lit(1))).as("n_readmitted"),
        count(when(col("ch").isNull && col("fid").isNull, col("cid")))
          .as("n_still_contaminated"))
    r1.join(rReadj, Seq("source"), "full")
      .join(rCatch, Seq("source"), "full")
      .select(col("source"),
        coalesce(col("n_batch"), lit(0L)).as("n_batch"),
        coalesce(col("n_dup_exact"), lit(0L)).as("n_dup_exact"),
        coalesce(col("n_dup_fuzzy"), lit(0L)).as("n_dup_fuzzy"),
        coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"),
        coalesce(col("n_low_quality"), lit(0L)).as("n_low_quality"),
        coalesce(col("n_new"), lit(0L)).as("n_new"),
        coalesce(col("n_readmitted"), lit(0L)).as("n_readmitted"),
        coalesce(col("n_still_contaminated"), lit(0L))
          .as("n_still_contaminated"),
        coalesce(col("n_caught"), lit(0L)).as("n_caught"))
      .orderBy("source")
  }

  /** q140's oracle: both modality sig chains (arithmetic re-derivation,
    * never decoding), SIX eval-flag chains (image/audio × tick 1 /
    * re-adjudication / catch), the text LSH dup gates, the training
    * pass, and all three phases — one WITH clause. */
  def q140Sql(maxDist: Int = MaxDist, maxBand: Int = MaxBand,
              threshold: Double = 0.2, lowFrac: Double = 0.25,
              iters: Int = graft.operators.QualityModel.DefaultIters,
              trainN: Int = graft.operators.QualityModel.DefaultTrainN)
      : String = {
    import graft.operators.{Decontam, Fuzzy, Provenance, QualityModel}
    val bm = Provenance.BatchMod
    val rm = Provenance.RetractMod
    val rr = Provenance.RetractRem
    val e1 = s"(doc_id % ${Decontam.EvalMod} = ${Decontam.Eval1Rem} " +
      s"OR doc_id IN (${Decontam.Eval1Extra.mkString(", ")}))"
    val e2 = s"(doc_id % ${Decontam.EvalMod} = ${Decontam.Eval2Rem} " +
      s"OR doc_id IN (${Decontam.Eval2Extra.mkString(", ")}))"
    def on(alias: String, cond: String) =
      cond.replace("doc_id", s"$alias.doc_id")
    val corpusCond = s"doc_id % $bm BETWEEN 1 AND 9 AND NOT $e1 AND NOT $e2"
    val batchCond = s"doc_id % $bm >= 10 AND NOT $e1 AND NOT $e2"
    val liveCond = s"($e1 AND doc_id % $rm <> $rr) OR $e2"
    s"""WITH ${Fuzzy.lshPairsSqlCtes(
         "tok AS (SELECT doc_id, regexp_split_to_array(text, ' ') AS a FROM documents)",
         threshold)},
       |adj AS MATERIALIZED (SELECT ida AS a, idb AS b FROM pairs
       |       UNION ALL SELECT idb AS a, ida AS b FROM pairs),
       |h AS MATERIALIZED (SELECT doc_id, source,
       |        CAST(concat('0x', substr(md5(text), 1, 15)) AS BIGINT) AS h
       |      FROM documents),
       |c0 AS MATERIALIZED (SELECT DISTINCT h FROM h WHERE $corpusCond),
       |${sigSqlCtes("im_")},
       |${audioSigSqlCtes("au_")},
       |${QualityModel.featureSqlCtes(
         s"(SELECT * FROM documents WHERE $corpusCond)", "ctr_")},
       |${QualityModel.trainSqlCtes(iters, trainN, "ctr_")},
       |t1 AS (SELECT doc_id, source, h FROM h WHERE $batchCond),
       |${QualityModel.featureSqlCtes(
         s"(SELECT * FROM documents WHERE $batchCond)", "b1_")},
       |sc1 AS (SELECT doc_id, ${QualityModel.scoreSql("w")} AS p
       |       FROM b1_feat, ctr_w w),
       |fz1 AS (SELECT DISTINCT adj.b AS fid FROM adj
       |        JOIN t1 ON t1.doc_id = adj.b
       |        WHERE ${on("adj", corpusCond).replace("adj.doc_id", "adj.a")}),
       |${sigFlagSqlCtesFor("i1_", "im_", on("b", e1),
         on("b", batchCond), maxDist, maxBand)},
       |${sigFlagSqlCtesFor("a1_", "au_", on("b", e1),
         on("b", batchCond), maxDist, maxBand)},
       |cid1 AS (SELECT DISTINCT fid AS cid FROM
       |    (SELECT fid FROM i1_fz UNION ALL SELECT fid FROM a1_fz)),
       |j1 AS MATERIALIZED (SELECT t1.doc_id, t1.source, t1.h AS hh,
       |        c0.h AS ch, fz1.fid, cid1.cid, sc1.p
       |      FROM t1 LEFT JOIN c0 ON t1.h = c0.h
       |      LEFT JOIN fz1 ON fz1.fid = t1.doc_id
       |      LEFT JOIN cid1 ON cid1.cid = t1.doc_id
       |      JOIN sc1 ON sc1.doc_id = t1.doc_id),
       |lq1 AS (SELECT doc_id,
       |          cume_dist() OVER (ORDER BY p, doc_id) <= $lowFrac AS lq
       |        FROM j1 WHERE ch IS NULL AND fid IS NULL AND cid IS NULL),
       |v1 AS MATERIALIZED (SELECT j1.*, lq1.lq FROM j1
       |      LEFT JOIN lq1 ON lq1.doc_id = j1.doc_id),
       |adm1 AS (SELECT doc_id FROM v1 WHERE lq = false),
       |ing AS MATERIALIZED (SELECT doc_id FROM documents WHERE $corpusCond
       |       UNION ALL SELECT doc_id FROM adm1),
       |quar AS MATERIALIZED (SELECT doc_id, source FROM v1
       |        WHERE ch IS NULL AND fid IS NULL AND cid IS NOT NULL),
       |c2 AS MATERIALIZED (SELECT DISTINCT h.h FROM h
       |      JOIN ing ON ing.doc_id = h.doc_id),
       |fz2 AS (SELECT DISTINCT adj.b AS fid FROM adj
       |        JOIN quar q ON q.doc_id = adj.b
       |        JOIN ing i ON i.doc_id = adj.a),
       |${sigFlagSqlCtesFor("i2_", "im_", on("b", liveCond),
         "b.doc_id IN (SELECT doc_id FROM quar)", maxDist, maxBand)},
       |${sigFlagSqlCtesFor("a2_", "au_", on("b", liveCond),
         "b.doc_id IN (SELECT doc_id FROM quar)", maxDist, maxBand)},
       |cid2 AS (SELECT DISTINCT fid AS cid FROM
       |    (SELECT fid FROM i2_fz UNION ALL SELECT fid FROM a2_fz)),
       |${QualityModel.featureSqlCtes(
         "(SELECT d.* FROM documents d JOIN quar q ON q.doc_id = d.doc_id)",
         "qr_")},
       |scq AS (SELECT doc_id, ${QualityModel.scoreSql("w")} AS p
       |        FROM qr_feat, ctr_w w),
       |j2 AS MATERIALIZED (SELECT q.doc_id, q.source, c2.h AS ch,
       |        fz2.fid, cid2.cid, scq.p
       |      FROM quar q
       |      JOIN h hh ON hh.doc_id = q.doc_id
       |      LEFT JOIN c2 ON hh.h = c2.h
       |      LEFT JOIN fz2 ON fz2.fid = q.doc_id
       |      LEFT JOIN cid2 ON cid2.cid = q.doc_id
       |      JOIN scq ON scq.doc_id = q.doc_id),
       |lq2 AS (SELECT doc_id,
       |          cume_dist() OVER (ORDER BY p, doc_id) <= $lowFrac AS lq
       |        FROM j2 WHERE ch IS NULL AND fid IS NULL AND cid IS NULL),
       |vr AS MATERIALIZED (SELECT j2.*, lq2.lq FROM j2
       |      LEFT JOIN lq2 ON lq2.doc_id = j2.doc_id),
       |${sigFlagSqlCtesFor("ic_", "im_", on("b", e2),
         "b.doc_id IN (SELECT doc_id FROM ing)", maxDist, maxBand)},
       |${sigFlagSqlCtesFor("ac_", "au_", on("b", e2),
         "b.doc_id IN (SELECT doc_id FROM ing)", maxDist, maxBand)},
       |caught AS (SELECT DISTINCT fid AS cid FROM
       |    (SELECT fid FROM ic_fz UNION ALL SELECT fid FROM ac_fz)),
       |r1 AS (SELECT source, count(*) AS n_batch, count(ch) AS n_dup_exact,
       |    count(CASE WHEN ch IS NULL THEN fid END) AS n_dup_fuzzy,
       |    count(CASE WHEN ch IS NULL AND fid IS NULL THEN cid END)
       |      AS n_contaminated,
       |    count(CASE WHEN lq THEN 1 END) AS n_low_quality,
       |    count(CASE WHEN lq = false THEN 1 END) AS n_new
       |  FROM v1 GROUP BY source),
       |rr AS (SELECT source,
       |    count(CASE WHEN lq = false THEN 1 END) AS n_readmitted,
       |    count(CASE WHEN ch IS NULL AND fid IS NULL THEN cid END)
       |      AS n_still_contaminated
       |  FROM vr GROUP BY source),
       |rc AS (SELECT d.source, count(*) AS n_caught
       |  FROM documents d JOIN caught c ON c.cid = d.doc_id
       |  GROUP BY d.source)
       |SELECT COALESCE(r1.source, rr.source, rc.source) AS source,
       |  CAST(COALESCE(n_batch, 0) AS BIGINT) AS n_batch,
       |  CAST(COALESCE(n_dup_exact, 0) AS BIGINT) AS n_dup_exact,
       |  CAST(COALESCE(n_dup_fuzzy, 0) AS BIGINT) AS n_dup_fuzzy,
       |  CAST(COALESCE(n_contaminated, 0) AS BIGINT) AS n_contaminated,
       |  CAST(COALESCE(n_low_quality, 0) AS BIGINT) AS n_low_quality,
       |  CAST(COALESCE(n_new, 0) AS BIGINT) AS n_new,
       |  CAST(COALESCE(n_readmitted, 0) AS BIGINT) AS n_readmitted,
       |  CAST(COALESCE(n_still_contaminated, 0) AS BIGINT)
       |    AS n_still_contaminated,
       |  CAST(COALESCE(n_caught, 0) AS BIGINT) AS n_caught
       |FROM r1 FULL JOIN rr ON rr.source = r1.source
       |FULL JOIN rc ON rc.source = COALESCE(r1.source, rr.source)
       |ORDER BY source""".stripMargin
  }
}
