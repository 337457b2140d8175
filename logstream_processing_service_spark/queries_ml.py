"""Driver-contract queries: ML-layer operators (SURVEY §2.9).

Oracle-checkable: anomaly flags (M10/M11 — pure plan), clustering quality
(M12 — entropy SQL). Rows-only: KMeans refit (iterative), hash-featurizer
embedding (Python UDF), multimodal feature extraction (mapInPandas) —
non-SQL-expressible per the driver contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .catalog import _t, spec
from .operators import relational as R
from .queries_relational import _ZSCORE_SQL


@spec(
    "anomaly_flags",
    f"""
    WITH feat AS ({_ZSCORE_SQL}),
    latest AS (
        SELECT cluster_id, batch_id, log_count,
               -abs(deviation) AS score
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY cluster_id ORDER BY batch_id DESC
            ) AS rn FROM feat
        ) WHERE rn = 1
    ),
    stats AS (
        SELECT avg(score) AS _mu, stddev_pop(score) AS _sigma,
               count(*) AS _n
        FROM latest
    ),
    flagged AS (
        SELECT l.*, (l.score - s._mu) / (s._sigma + 1e-9) AS rel_z, s._n
        FROM latest l, stats s
        WHERE (l.score - s._mu) / (s._sigma + 1e-9) < -1.0
    ),
    guarded AS (
        SELECT f.* FROM flagged f, (SELECT count(*) AS _nf FROM flagged) g
        WHERE g._nf <= 0.3 * f._n
    )
    SELECT cluster_id, batch_id, log_count, round(score, 4) AS score
    FROM guarded ORDER BY score, cluster_id LIMIT 3
    """,
    "M10", "M11",
)
def q_anomaly_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    feats = R.volume_zscore(R.batch_volume(_t(spark, sf_dir, "events")))
    # note: deviation column here is the ROUNDED output of volume_zscore;
    # the oracle rounds identically inside _ZSCORE_SQL
    return R.flag_anomalies(feats)


def _clustering_quality_oracle() -> str:
    from .ml.quality import HC_SQL_TEMPLATE

    assigned = "(SELECT label AS truth, vec_id % 10 AS cluster FROM embeddings)"
    return HC_SQL_TEMPLATE.format(src=f"{assigned} assigned")


@spec("clustering_quality", _clustering_quality_oracle(), "M12", "A7")
def q_clustering_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from .ml.quality import homogeneity_completeness

    emb = _t(spark, sf_dir, "embeddings")
    # deterministic synthetic assignment (vec_id % 10) so the metric itself
    # is what's under test, not a clustering run
    assigned = emb.select(
        F.col("label").alias("truth"), (F.col("vec_id") % 10).alias("cluster")
    )
    return homogeneity_completeness(assigned, "truth", "cluster")


@spec("kmeans_refit_assign", None, "M7", "rows-only")
def q_kmeans_refit_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch KMeans refit + nearest-centroid scoring (iterative — no SQL
    oracle; driver records rows-only)."""
    from .ml.clustering import train_and_assign

    return train_and_assign(_t(spark, sf_dir, "embeddings"), k=10)


def _array_digest(col: str):
    """Driver-stable scalar digest of an ``array<float>`` column: rounded
    to 6 decimals, JSON-encoded, xxhash64'd. The driver's canonicalizer
    sorts every output column with pandas, which cannot key on raw numpy
    arrays (r2: ``TypeError: unhashable type``); a long digest keeps the
    rows-only row count AND gives a value-sensitive fingerprint."""
    from pyspark.sql import functions as F

    return F.xxhash64(
        F.to_json(F.transform(col, lambda x: F.round(x, 6)))
    )


@spec("embed_documents", None, "M1", "M2", "rows-only")
def q_embed_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-featurizer embedding column over documents
    (pandas_udf — Python boundary, rows-only check). The raw
    ``array<float>`` ride stays inside the plan; the driver-facing
    projection is all scalars (digest + l2 norm) so the rows-only check
    can count and hash rows."""
    from pyspark.sql import functions as F

    from .ml.embedding import hash_featurizer

    docs = _t(spark, sf_dir, "documents")
    emb = docs.select(
        "doc_id", hash_featurizer(64)(F.col("text")).alias("embedding")
    )
    return emb.select(
        "doc_id",
        F.size("embedding").alias("dim"),
        _array_digest("embedding").alias("embedding_digest"),
        F.round(
            F.sqrt(
                F.aggregate(
                    "embedding",
                    F.lit(0.0),
                    lambda a, x: a + x.cast("double") * x.cast("double"),
                )
            ),
            6,
        ).alias("l2_norm"),
    )


@spec("multimodal_features", None, "multimodal", "rows-only")
def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-payload feature extraction via mapInPandas (decode stubbed —
    see operators/multimodal.py). Scalar projection (digest + checksum)
    for the same driver-canonicalizer reason as ``embed_documents``."""
    from pyspark.sql import functions as F

    from .operators.multimodal import media_feature_pipeline

    feats = media_feature_pipeline(_t(spark, sf_dir, "documents"))
    return feats.select(
        "doc_id",
        "media_type",
        "n_bytes",
        F.size("features").alias("n_features"),
        _array_digest("features").alias("features_digest"),
        F.round(
            F.aggregate(
                "features", F.lit(0.0), lambda a, x: a + x.cast("double")
            ),
            6,
        ).alias("features_sum"),
    )


def _image_dimensions_oracle() -> str:
    # the synthetic fixture PNG has doc_id-derived dimensions and a
    # constant byte length, so plain SQL predicts what the pure-Python
    # header parser must recover — an end-to-end check of the real
    # (non-stubbed) image-metadata path
    from .operators.multimodal import synthetic_png

    n_bytes = len(synthetic_png(1, 1))
    return f"""
    SELECT doc_id, 'image/png' AS media_type,
           CAST({n_bytes} AS BIGINT) AS n_bytes,
           doc_id % 512 + 1 AS width,
           doc_id % 333 + 1 AS height
    FROM documents
    """


@spec("image_dimensions", _image_dimensions_oracle(), "multimodal", "image-header")
def q_image_dimensions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image metadata extraction: structurally-valid fixture PNGs →
    pure-Python header parse in the Arrow mapInPandas lane → (width,
    height) verified against the SQL prediction."""
    from .operators.multimodal import image_dimensions, with_synthetic_image_payload

    return image_dimensions(
        with_synthetic_image_payload(_t(spark, sf_dir, "documents"))
    )


def _audio_metadata_oracle() -> str:
    # the synthetic fixture WAV has doc_id-derived parameters and a fixed
    # 44-byte header, so plain SQL predicts what the pure-Python RIFF
    # parser must recover — an end-to-end check of the real (non-stubbed)
    # audio-metadata path
    return """
    SELECT doc_id, 'audio/wav' AS media_type,
           CAST(44 + (doc_id % 1000 + 1) * (doc_id % 2 + 1) * 2 AS BIGINT)
               AS n_bytes,
           doc_id % 2 + 1 AS n_channels,
           CAST([8000, 16000, 22050, 44100][CAST(doc_id % 4 AS INT) + 1]
                AS BIGINT) AS sample_rate,
           CAST(16 AS BIGINT) AS bits_per_sample,
           doc_id % 1000 + 1 AS n_frames,
           round((doc_id % 1000 + 1) * 1000.0
                 / [8000, 16000, 22050, 44100][CAST(doc_id % 4 AS INT) + 1],
                 6) AS duration_ms
    FROM documents
    """


@spec("audio_metadata", _audio_metadata_oracle(), "multimodal", "audio-header")
def q_audio_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio metadata extraction: structurally-valid fixture WAVs →
    pure-Python RIFF/WAVE header parse in the Arrow mapInPandas lane →
    (channels, rate, bits, frames, duration) verified against the SQL
    prediction."""
    from .operators.multimodal import audio_metadata, with_synthetic_audio_payload

    return audio_metadata(
        with_synthetic_audio_payload(_t(spark, sf_dir, "documents"))
    )


@spec(
    "standardize_value",
    """
    WITH stats AS (
        SELECT avg(value) AS mu, stddev_pop(value) AS sd FROM events
    )
    SELECT event_id, value,
           round((value - mu) / (sd + 1e-12), 6) AS value_z
    FROM events, stats
    """,
    "M5", "A8",
)
def q_standardize_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .ml.features import standardize

    ev = _t(spark, sf_dir, "events").select("event_id", "value")
    return standardize(ev, ["value"])


@spec(
    "onehot_event_type",
    """
    SELECT event_id,
           CAST(event_type = 'click' AS INT) AS event_type_click,
           CAST(event_type = 'error' AS INT) AS event_type_error,
           CAST(event_type = 'purchase' AS INT) AS event_type_purchase,
           CAST(event_type = 'signup' AS INT) AS event_type_signup,
           CAST(event_type = 'view' AS INT) AS event_type_view
    FROM events
    """,
    "M6", "M4",
)
def q_onehot_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .ml.features import onehot

    ev = _t(spark, sf_dir, "events").select("event_id", "event_type")
    return onehot(ev, "event_type").drop("event_type")


def _image_pixel_stats_oracle() -> str:
    """The gradient PNG's pixels in closed form: the oracle recomputes
    every pixel value without any decoder, so a hash match PROVES the
    Spark side's zlib-inflate + unfilter decode is byte-correct."""
    return """
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_px,
           round(avg(v), 6) AS mean_px,
           CAST(min(v) AS BIGINT) AS min_px, CAST(max(v) AS BIGINT) AS max_px
    FROM (
      SELECT doc_id, ((i % w) * 3 + (i // w) * 7 + seed) % 256 AS v
      FROM (
        SELECT doc_id, doc_id % 48 + 8 AS w, doc_id % 37 + 8 AS h,
               doc_id % 256 AS seed, unnest(range(0, (doc_id % 48 + 8) * (doc_id % 37 + 8))) AS i
        FROM documents
      )
    )
    GROUP BY doc_id ORDER BY doc_id
    """


@spec(
    "image_pixel_stats",
    _image_pixel_stats_oracle(),
    "multimodal", "image-decode", "north-star",
)
def q_image_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PNG content decode (stdlib inflate + unfilter) verified
    pixel-for-pixel against the closed-form oracle."""
    from .operators.multimodal import (
        image_pixel_stats,
        with_gradient_image_payload,
    )

    docs = _t(spark, sf_dir, "documents")
    return image_pixel_stats(with_gradient_image_payload(docs)).orderBy(
        "doc_id"
    )


def _audio_pcm_stats_oracle() -> str:
    """The sine tone's int16 samples in closed form (floor(32767·amp·
    sin(2π·f·i/rate) + 0.5)); RMS/peak over samples/32768."""
    return """
    SELECT doc_id, CAST(n AS BIGINT) AS n_frames,
           CAST(doc_id % 2 + 1 AS BIGINT) AS n_channels,
           round(n / 8000.0, 6) AS duration_s,
           round(sqrt(avg(pow(s / 32768.0, 2))), 6) AS rms,
           round(max(abs(s)) / 32768.0, 6) AS peak
    FROM (
      SELECT doc_id, n,
             floor(32767.0 * amp * sin(2 * pi() * f * i / 8000.0) + 0.5) AS s
      FROM (
        SELECT doc_id, doc_id % 200 + 400 AS n, doc_id % 200 + 100 AS f,
               (1 + doc_id % 8) / 10.0 AS amp,
               unnest(range(0, doc_id % 200 + 400)) AS i
        FROM documents
      )
    )
    GROUP BY doc_id, n ORDER BY doc_id
    """


@spec(
    "audio_pcm_stats",
    _audio_pcm_stats_oracle(),
    "multimodal", "audio-decode", "north-star",
)
def q_audio_pcm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PCM content decode verified sample-for-sample against the
    closed-form sine oracle."""
    from .operators.multimodal import audio_pcm_stats, with_tone_audio_payload

    docs = _t(spark, sf_dir, "documents")
    return audio_pcm_stats(with_tone_audio_payload(docs)).orderBy("doc_id")


@spec(
    "quality_classifier_report",
    None,
    "north-star", "quality-filter", "mllib", "rows-only",
)
def q_quality_classifier_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distill the Gopher rules into an L-BFGS logistic model over the
    one-scan feature matrix; emit the held-out audit metrics. Rows-only:
    float gradient reductions aren't bit-stable across partitionings;
    the AUC >= 0.9 floor and decision-rule consistency are asserted in
    tests/test_classifier.py."""
    from .ml.classifier import quality_classifier_report

    return quality_classifier_report(_t(spark, sf_dir, "documents"))


def _jpeg_pixel_stats_oracle() -> str:
    """Block-constant quality-100 JPEG decodes EXACTLY (DC-only blocks),
    so the oracle enumerates blocks analytically: a hash match proves the
    native Huffman + dequant + IDCT pipeline end-to-end."""
    return """
    SELECT doc_id, CAST(w * h AS BIGINT) AS n_px,
           round(avg(v), 6) AS mean_px,
           CAST(min(v) AS BIGINT) AS min_px, CAST(max(v) AS BIGINT) AS max_px
    FROM (
      SELECT doc_id, w, h,
             ((i % nbx) * 3 + (i // nbx) * 7 + seed) % 256 AS v
      FROM (
        SELECT doc_id,
               8 * (doc_id % 6 + 2) AS w, 8 * (doc_id % 4 + 2) AS h,
               doc_id % 6 + 2 AS nbx, doc_id % 256 AS seed,
               unnest(range(0, (doc_id % 6 + 2) * (doc_id % 4 + 2))) AS i
        FROM documents
      )
    )
    GROUP BY doc_id, w, h ORDER BY doc_id
    """


@spec(
    "jpeg_pixel_stats",
    _jpeg_pixel_stats_oracle(),
    "multimodal", "image-decode", "north-star", "jpeg",
)
def q_jpeg_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL baseline-JPEG content decode (native DCT + Huffman) verified
    pixel-for-pixel against the closed-form block oracle."""
    from .operators.jpegcodec import jpeg_pixel_stats, with_blocky_jpeg_payload

    docs = _t(spark, sf_dir, "documents")
    return jpeg_pixel_stats(with_blocky_jpeg_payload(docs)).orderBy("doc_id")


def _mp4_frame_index_oracle() -> str:
    """The fixture's sample tables in closed form: sizes/durations are
    arithmetic in (doc_id, i); offsets are prefix sums from the fixed
    mdat data start (32). A hash match proves the real ISO-BMFF box-tree
    walk + stts/stsc/stsz/stco assembly, with each frame's first payload
    byte verified by an actual ranged read on the Spark side."""
    return """
    WITH f AS (
      SELECT doc_id, CAST(i AS INT) AS frame_idx,
             100 + (doc_id + i) % 50 AS sz,
             33 + (i % 3) AS dur,
             (doc_id + i) % 256 AS fb
      FROM (
        SELECT doc_id, unnest(range(0, doc_id % 6 + 3)) AS i FROM documents
      )
    )
    SELECT doc_id, frame_idx,
           CAST(32 + COALESCE(sum(sz) OVER w, 0) AS BIGINT) AS byte_off,
           CAST(sz AS BIGINT) AS n_bytes,
           CAST(COALESCE(sum(dur) OVER w, 0) AS BIGINT) AS pts_ticks,
           CAST(fb AS INT) AS first_byte
    FROM f
    WINDOW w AS (PARTITION BY doc_id ORDER BY frame_idx
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ORDER BY doc_id, frame_idx
    """


@spec(
    "mp4_frame_index",
    _mp4_frame_index_oracle(),
    "multimodal", "video-container", "north-star",
)
def q_mp4_frame_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL MP4 container parsing (ISO-BMFF sample tables → per-frame
    byte index + content-verified first byte); codec decode stays the
    honest pyav gate."""
    from .operators.mp4box import mp4_frame_index, with_synthetic_mp4_payload

    docs = _t(spark, sf_dir, "documents")
    return mp4_frame_index(with_synthetic_mp4_payload(docs)).orderBy(
        "doc_id", "frame_idx"
    )


def _image_dhash_oracle() -> str:
    """The gradient PNG's 9x8 dHash in closed form: the oracle recomputes
    the nearest-neighbor downsample (xi = (x*w)//9, yi = (y*h)//8), the
    adjacent-pixel comparison bits, and the MSB-first byte packing without
    any decoder — a hash match proves decode + resample + perceptual hash
    end-to-end."""
    return """
    WITH g AS (
      SELECT doc_id, doc_id % 48 + 8 AS w, doc_id % 37 + 8 AS h,
             doc_id % 256 AS seed
      FROM documents
    ),
    cell AS (
      SELECT doc_id, ys.y AS y, xs.x AS x,
             (((xs.x * w) // 9) * 3 + ((ys.y * h) // 8) * 7 + seed) % 256 AS v
      FROM g
      CROSS JOIN (SELECT unnest(range(0, 8)) AS y) ys
      CROSS JOIN (SELECT unnest(range(0, 9)) AS x) xs
    ),
    bit AS (
      SELECT a.doc_id, a.y, a.x,
             CASE WHEN b.v > a.v THEN 1 ELSE 0 END AS bit
      FROM cell a JOIN cell b
        ON a.doc_id = b.doc_id AND a.y = b.y AND b.x = a.x + 1
      WHERE a.x < 8
    ),
    byt AS (
      SELECT doc_id, y, CAST(sum(bit * (1 << (7 - x))) AS INT) AS byte
      FROM bit GROUP BY doc_id, y
    ),
    hx AS (
      SELECT doc_id, string_agg(printf('%02x', byte), '' ORDER BY y) AS dhash
      FROM byt GROUP BY doc_id
    )
    SELECT doc_id, dhash,
           CAST(count(*) OVER (PARTITION BY dhash) AS BIGINT) AS n_same
    FROM hx ORDER BY doc_id
    """


@spec(
    "image_dhash",
    _image_dhash_oracle(),
    "multimodal", "image-decode", "dedup", "north-star",
)
def q_image_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual near-dup image detection: native PNG decode → 9x8
    difference hash → hash-group counts, verified bit-for-bit against the
    closed-form pixel oracle."""
    from .operators.multimodal import image_dhash, with_gradient_image_payload

    # the payload builder spreads doc ids before the encode UDF (r14 —
    # the jpeg-lane discipline moved into with_gradient_image_payload)
    docs = _t(spark, sf_dir, "documents")
    return image_dhash(with_gradient_image_payload(docs)).orderBy("doc_id")


def _audio_dominant_tone_oracle() -> str:
    """Exact DFT magnitude² of the closed-form sine at the candidate bins
    around f·N/rate (the global peak is provably among them: leakage
    skirts decay monotonically and quantization distortion sits ~90 dB
    down); argmax by (m², bin). Peak-vs-runner-up margins across the
    fixture grid are >= 0.47 %, so the 1e-12-relative cross-engine float
    noise cannot flip the pick."""
    return """
    WITH base AS (
        SELECT doc_id, doc_id % 200 + 400 AS n, doc_id % 200 + 100 AS f,
               (1 + doc_id % 8) / 10.0 AS amp
        FROM documents
    ),
    cand AS (
        SELECT doc_id, n, f, amp,
               unnest(range(
                   greatest(1, CAST(floor(f * n / 8000.0) AS BIGINT) - 1),
                   CAST(ceil(f * n / 8000.0) AS BIGINT) + 2)) AS k
        FROM base
    ),
    terms AS (
        SELECT doc_id, n, k, i,
               floor(32767.0 * amp * sin(2 * pi() * f * i / 8000.0) + 0.5)
                   / 32768.0 AS s
        FROM (SELECT doc_id, n, f, amp, k, unnest(range(0, n)) AS i
              FROM cand)
    ),
    mag AS (
        SELECT doc_id, n, k,
               pow(sum(s * cos(2 * pi() * k * i / n)), 2)
               + pow(sum(s * sin(2 * pi() * k * i / n)), 2) AS m2
        FROM terms GROUP BY 1, 2, 3
    ),
    pick AS (
        SELECT doc_id, CAST(n AS BIGINT) AS n_frames,
               CAST(k AS INT) AS peak_bin,
               round(k * 8000.0 / n, 3) AS peak_freq_hz,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY m2 DESC, k) AS rn
        FROM mag
    )
    SELECT doc_id, n_frames, peak_bin, peak_freq_hz
    FROM pick WHERE rn = 1 ORDER BY doc_id
    """


@spec(
    "audio_dominant_tone",
    _audio_dominant_tone_oracle(),
    "multimodal", "audio-dsp", "north-star",
)
def q_audio_dominant_tone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL frequency-domain analysis of decoded PCM: numpy FFT dominant
    bin per clip, hash-matched against the oracle's exact candidate-bin
    DFT of the closed-form sine fixtures — the audio lane's first DSP
    feature, verified end to end (WAV bytes → samples → spectrum)."""
    from .operators.multimodal import (
        audio_dominant_tone,
        with_tone_audio_payload,
    )

    docs = _t(spark, sf_dir, "documents")
    return audio_dominant_tone(with_tone_audio_payload(docs)).orderBy("doc_id")


def _image_histogram_oracle() -> str:
    """Histogram of the closed-form gradient pixels (3x + 7y + seed) mod
    256 recomputed analytically; entropy over grouped counts (float sum
    order differs from numpy's 256-bin order by ~1e-16 — round 6)."""
    return """
    WITH px AS (
        SELECT doc_id,
               (3 * x + 7 * y + doc_id % 256) % 256 AS v
        FROM (
            SELECT doc_id, unnest(range(0, doc_id % 48 + 8)) AS x
            FROM documents
        ) JOIN (
            SELECT doc_id AS doc_id2, unnest(range(0, doc_id % 37 + 8)) AS y
            FROM documents
        ) ON doc_id = doc_id2
    ),
    hist AS (
        SELECT doc_id, v, count(*) AS c FROM px GROUP BY 1, 2
    ),
    tot AS (
        SELECT doc_id, sum(c) AS n, count(*) AS nd FROM hist GROUP BY 1
    ),
    ent AS (
        SELECT h.doc_id,
               round(-sum((c / CAST(n AS DOUBLE))
                          * log2(c / CAST(n AS DOUBLE))), 6) AS entropy_bits
        FROM hist h JOIN tot USING (doc_id) GROUP BY 1
    ),
    md AS (
        SELECT doc_id, CAST(v AS INT) AS mode_val, c AS mode_count
        FROM (
            SELECT doc_id, v, c,
                   row_number() OVER (PARTITION BY doc_id
                                      ORDER BY c DESC, v) AS rn
            FROM hist
        ) WHERE rn = 1
    )
    SELECT t.doc_id, CAST(n AS BIGINT) AS n_px,
           CAST(nd AS INT) AS n_distinct_vals,
           mode_val, CAST(mode_count AS BIGINT) AS mode_count,
           entropy_bits
    FROM tot t JOIN md USING (doc_id) JOIN ent USING (doc_id)
    ORDER BY t.doc_id
    """


@spec(
    "image_histogram_stats",
    _image_histogram_oracle(),
    "multimodal", "image-analysis", "north-star",
)
def q_image_histogram_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pixel histogram / mode / Shannon entropy over REAL decoded PNGs,
    hash-matched against the analytic gradient-pixel oracle — image-lane
    content statistics end to end (bytes → inflate → unfilter →
    histogram)."""
    from .operators.multimodal import (
        image_histogram_stats,
        with_gradient_image_payload,
    )

    docs = _t(spark, sf_dir, "documents")
    return image_histogram_stats(
        with_gradient_image_payload(docs)
    ).orderBy("doc_id")


@spec(
    "mjpeg_frame_pixel_stats",
    """
    WITH f AS (
        SELECT doc_id, unnest(range(0, doc_id % 4 + 2)) AS i
        FROM documents
    ),
    blocks AS (
        SELECT doc_id, i,
               (3 * bx + 7 * by + (3 * doc_id + 17 * i) % 256) % 256 AS v
        FROM f,
             unnest(range(0, 2)) AS t1(bx),
             unnest(range(0, 2)) AS t2(by)
    )
    SELECT doc_id, CAST(i AS INT) AS frame_idx,
           CAST(16 * 16 AS BIGINT) AS n_px,
           round(avg(CAST(v AS DOUBLE)), 6) AS mean_px,
           CAST(min(v) AS INT) AS min_px,
           CAST(max(v) AS INT) AS max_px
    FROM blocks GROUP BY doc_id, i
    ORDER BY doc_id, frame_idx
    """,
    "multimodal", "video-decode", "north-star",
)
def q_mjpeg_frame_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video frame decode: Motion-JPEG frames ranged-read out of the
    ISO-BMFF sample table and decoded with the native JPEG codec; the
    oracle recomputes every frame's block-constant pixels analytically —
    container walk + per-frame entropy decode, hash-checked end to end.
    (H.264/AV1 stay the honest pyav gate; MJPEG is a real capture-codec
    this engine implements natively.)"""
    from .operators.mp4box import mjpeg_frame_stats, with_mjpeg_mp4_payload

    docs = _t(spark, sf_dir, "documents")
    return mjpeg_frame_stats(with_mjpeg_mp4_payload(docs)).orderBy(
        "doc_id", "frame_idx"
    )


# ---------------------------------------------------------------------------
# r7 registration: GIF multimodal lane (native decoder vs analytic oracle)
# ---------------------------------------------------------------------------


def _gif_oracle() -> str:
    from .operators.gifcodec import gif_frame_stats_oracle_sql

    return gif_frame_stats_oracle_sql()


@spec(
    "gif_frame_pixel_stats",
    _gif_oracle(),
    "multimodal", "image-decode", "gif",
)
def q_gif_frame_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native GIF decode (LZW, interlace, disposal compositing) →
    per-frame pixel stats over the deterministic synthetic payload lane;
    the oracle is the closed-form pixel arithmetic of the generator
    (same recipe as the PNG/JPEG/MJPEG lanes). Arrow-batched
    mapInPandas decode; per-document parallelism."""
    from .operators.gifcodec import (
        gif_frame_pixel_stats,
        with_synthetic_gif_payload,
    )

    return gif_frame_pixel_stats(
        with_synthetic_gif_payload(_t(spark, sf_dir, "documents"))
    ).orderBy("doc_id", "frame_idx")


def _dhash_near_dup_oracle(threshold: int = 2, max_bucket: int = 64) -> str:
    """Closed-form twin of dhash_near_dup_report over the gradient PNGs:
    the _image_dhash_oracle byte grid feeds 4×16-bit bands, the same
    bucket cap, banded candidate pairs, exact 64-bit Hamming verify and
    the per-doc rollup (pairs count toward BOTH endpoints)."""
    return f"""
    WITH g AS (
      SELECT doc_id, doc_id % 48 + 8 AS w, doc_id % 37 + 8 AS h,
             doc_id % 256 AS seed
      FROM documents
    ),
    cell AS (
      SELECT doc_id, ys.y AS y, xs.x AS x,
             (((xs.x * w) // 9) * 3 + ((ys.y * h) // 8) * 7 + seed) % 256 AS v
      FROM g
      CROSS JOIN (SELECT unnest(range(0, 8)) AS y) ys
      CROSS JOIN (SELECT unnest(range(0, 9)) AS x) xs
    ),
    bit AS (
      SELECT a.doc_id, a.y, a.x,
             CASE WHEN b.v > a.v THEN 1 ELSE 0 END AS bit
      FROM cell a JOIN cell b
        ON a.doc_id = b.doc_id AND a.y = b.y AND b.x = a.x + 1
      WHERE a.x < 8
    ),
    byt AS (
      SELECT doc_id, y, CAST(sum(bit * (1 << (7 - x))) AS INT) AS byte
      FROM bit GROUP BY doc_id, y
    ),
    band AS (
      SELECT doc_id, y // 2 AS b,
             CAST(sum(byte * CASE WHEN y % 2 = 0 THEN 256 ELSE 1 END)
                  AS BIGINT) AS bv
      FROM byt GROUP BY doc_id, y // 2
    ),
    ok AS (
      SELECT b, bv FROM (
        SELECT b, bv, count(*) AS n FROM band GROUP BY 1, 2
      ) WHERE n BETWEEN 2 AND {max_bucket}
    ),
    bandk AS (SELECT band.* FROM band JOIN ok USING (b, bv)),
    cand AS (
      SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
      FROM bandk a JOIN bandk b
        ON a.b = b.b AND a.bv = b.bv AND a.doc_id < b.doc_id
    ),
    pairs AS (
      SELECT c.d1, c.d2, CAST(sum(bit_count(xor(x.bv, y2.bv))) AS BIGINT) AS hd
      FROM cand c
      JOIN band x ON x.doc_id = c.d1
      JOIN band y2 ON y2.doc_id = c.d2 AND y2.b = x.b
      GROUP BY c.d1, c.d2
    ),
    ends AS (
      SELECT d1 AS doc_id, hd FROM pairs
      UNION ALL
      SELECT d2 AS doc_id, hd FROM pairs
    ),
    per_doc AS (
      SELECT doc_id,
             CAST(count(*) AS BIGINT) AS n_candidates,
             CAST(sum(CASE WHEN hd <= {threshold} THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_near_dup,
             CAST(min(hd) AS INT) AS min_hamming
      FROM ends GROUP BY doc_id
    )
    SELECT d.doc_id,
           COALESCE(p.n_candidates, 0) AS n_candidates,
           COALESCE(p.n_near_dup, 0) AS n_near_dup,
           p.min_hamming
    FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
    ORDER BY d.doc_id
    """


@spec(
    "dhash_near_dup_report",
    _dhash_near_dup_oracle(),
    "multimodal", "image-decode", "dedup", "north-star",
)
def q_dhash_near_dup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual NEAR-dup exposure per image: native PNG decode → 9x8
    dHash → 4x16-bit banded LSH candidates (bucket-capped) → exact
    Hamming verify → doc-grain rollup, verified against the closed-form
    pixel oracle end-to-end."""
    from .operators.multimodal import (
        dhash_near_dup_report,
        with_gradient_image_payload,
    )

    docs = _t(spark, sf_dir, "documents")
    return dhash_near_dup_report(with_gradient_image_payload(docs))
