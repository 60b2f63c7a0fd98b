"""Multimodal queries (``m*``): binary payload plumbing and the real PPM,
WAV and AVI codecs, with image/audio/video fingerprint near-dup.

Importing this module registers its queries; the driver-facing order is
``_registry.ORDER``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.multimodal import COS14, binary_payload_meta, with_fake_payload
from ._registry import _ctx, _register
from .dedup import _d13_oracle


@_register(
    "m01_binary_meta",
    """
    SELECT doc_id, octet_length(encode(text)) AS n_bytes, md5(text) AS payload_md5
    FROM documents
    """,
    survey="north-star multimodal: opaque binary payload + typed metadata (JVM-side)",
)
def m01_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    (docs,) = _ctx(spark, sf_dir, "documents")
    return binary_payload_meta(with_fake_payload(docs))


@_register(
    "m02_decode_stub",
    """
    WITH d AS (
      SELECT doc_id, encode(text) AS p FROM documents),
    h AS (
      SELECT doc_id, octet_length(p) AS n,
             substr(lower(hex(p)), 1, 512) AS hx
      FROM d),
    luma AS (
      SELECT doc_id, n,
             sum((strpos('0123456789abcdef', substr(hx, 2*u.i-1, 1)) - 1) * 16
               + (strpos('0123456789abcdef', substr(hx, 2*u.i,   1)) - 1))
               AS byte_sum
      FROM h, LATERAL (SELECT unnest(generate_series(1, least(n, 256)))
                       AS i) u
      GROUP BY doc_id, n)
    SELECT h.doc_id, CAST(h.n AS INT) AS n_bytes,
           CAST(greatest(1, h.n % 64) AS INT) AS width,
           CAST(greatest(1, (h.n // 64) % 64) AS INT) AS height,
           (CAST(coalesce(l.byte_sum, 0) AS DOUBLE)
             / greatest(1, least(h.n, 256))) / 255.0 AS mean_luma
    FROM h LEFT JOIN luma l USING (doc_id)
    """,
    survey="north-star multimodal: mapInPandas decode plumbing on "
    "arbitrary (non-image) bytes — the byte-heuristic codec "
    "(dimensions from byte length, luminance from the first-256-byte "
    "mean) is reproduced relationally from hex nibbles, so the "
    "distributed harness (Arrow batching, NULL-payload handling, "
    "schema contract) is oracle-checked independent of any container; "
    "the REAL in-repo codec over a real container is m05_ppm_decode",
)
def m02_decode_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.multimodal import decode_images

    (docs,) = _ctx(spark, sf_dir, "documents")
    return decode_images(with_fake_payload(docs))


@_register(
    "m05_ppm_decode",
    """
    WITH d AS (SELECT doc_id, 3 + doc_id % 6 AS w, 2 + doc_id % 4 AS h
               FROM documents),
    s AS (SELECT d.doc_id, d.w, d.h, u.k,
                 (strpos('0123456789abcdef',
                         substr(md5(CAST(d.doc_id AS VARCHAR) || ':'
                                    || CAST(u.k AS VARCHAR)), 1, 1)) - 1) * 16
               + (strpos('0123456789abcdef',
                         substr(md5(CAST(d.doc_id AS VARCHAR) || ':'
                                    || CAST(u.k AS VARCHAR)), 2, 1)) - 1) AS v
          FROM d, LATERAL (SELECT unnest(generate_series(0, 3*d.w*d.h - 1))
                           AS k) u),
    agg AS (SELECT doc_id, w, h,
                   sum(CASE WHEN k % 3 = 0 THEN 299 * v
                            WHEN k % 3 = 1 THEN 587 * v
                            ELSE 114 * v END) AS lsum,
                   sum(CASE WHEN v < 10 THEN 1
                            WHEN v < 100 THEN 2
                            ELSE 3 END) AS digits,
                   count(*) AS n3
            FROM s GROUP BY doc_id, w, h)
    SELECT doc_id,
           CAST(3 + 6 + length(CAST(doc_id AS VARCHAR))
                + length(CAST(w AS VARCHAR)) + 1
                + length(CAST(h AS VARCHAR)) + 1
                + 4 + digits + n3 AS INT) AS n_bytes,
           CAST(w AS INT) AS width,
           CAST(h AS INT) AS height,
           CAST(lsum AS DOUBLE) / (255000.0 * w * h) AS mean_luma
    FROM agg
    """,
    survey="north-star multimodal: REAL pure-Python codec for a real "
    "container — deterministic plain-PPM (P3) payloads (magic, comment "
    "line, dimensions, maxval, ASCII samples) are generated per doc and "
    "genuinely parsed back by decode_ppm under Arrow-batched mapInPandas; "
    "the oracle re-derives byte length, header dimensions, and the "
    "integer Rec.601 luma sum from the same md5 sample stream, so a "
    "header-parse or tokenizer bug flips the hash",
    note="n_bytes counts every container byte (magic+newline 3, comment "
    "'# id {id}\\n', dims line, '255\\n', ASCII samples + separators + "
    "trailing newline) — the decoder and generator must agree on the "
    "exact serialization for this to match.",
)
def m05_ppm_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generate real P3 images deterministically per doc_id, decode
    them with the real PPM codec, emit (n_bytes, width, height,
    mean_luma) — the full multimodal decode path with zero stubs."""
    from ..functions.multimodal import decode_images, decode_ppm, with_ppm_payload

    (docs,) = _ctx(spark, sf_dir, "documents")
    return decode_images(with_ppm_payload(docs.select("doc_id")), decoder=decode_ppm)


@_register(
    "m03_frame_sample",
    """
    WITH d AS (
      SELECT doc_id, text, length(text) // 4 AS flen
      FROM documents WHERE text IS NOT NULL)
    SELECT doc_id, CAST(u.k AS INT) AS frame_idx,
           u.k * flen AS off,
           md5(substr(text, u.k * flen + 1, flen)) AS frame_md5
    FROM d, LATERAL (SELECT unnest(generate_series(0, 3)) AS k) u
    WHERE flen > 0
    """,
    survey="north-star multimodal: uniform frame sampling (one row per "
    "frame) via one-to-many mapInPandas — deterministic slicing decode, so "
    "the full Arrow-batched path is oracle-checked (vs LATERAL unnest + "
    "substr), unlike m02's rows-only stub",
)
def m03_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.multimodal import sample_frames

    (docs,) = _ctx(spark, sf_dir, "documents")
    return sample_frames(docs, n_frames=4)


@_register(
    "m04_byte_features",
    """
    WITH d AS (SELECT doc_id, encode(text) AS p FROM documents),
    h AS (
      SELECT doc_id, lower(hex(p)) AS hx, octet_length(p) AS n
      FROM d WHERE p IS NOT NULL AND octet_length(p) > 0),
    b AS (
      SELECT doc_id, n, hx,
             (strpos('0123456789abcdef', substr(hx, 2*u.i-1, 1)) - 1) * 16
           + (strpos('0123456789abcdef', substr(hx, 2*u.i,   1)) - 1) AS byte
      FROM h, LATERAL (SELECT unnest(generate_series(1, n)) AS i) u),
    hist AS (
      SELECT doc_id, n, hx, byte, count(*) AS c
      FROM b GROUP BY doc_id, n, hx, byte),
    ent AS (
      SELECT doc_id, n, hx,
             sum(byte * c)::DOUBLE / n AS mean_byte,
             round(-sum((c::DOUBLE / n) * log2(c::DOUBLE / n)), 8) AS entropy
      FROM hist GROUP BY doc_id, n, hx)
    SELECT d.doc_id, coalesce(e.n, 0) AS n_bytes, e.mean_byte, e.entropy,
           substr(e.hx, 1, 8) AS magic_hex
    FROM d LEFT JOIN ent e USING (doc_id)
    """,
    survey="north-star multimodal: byte-level payload features (size, mean "
    "byte, Shannon entropy, magic bytes — the content-sniff/corruption "
    "screen before decode) via numpy-vectorized mapInPandas, no shuffle; "
    "oracle rebuilds the byte histogram from hex nibbles in SQL",
)
def m04_byte_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte histogram features of the (synthetic UTF-8) payloads —
    Arrow-batched numpy per payload; linear in total bytes."""
    from ..functions.multimodal import byte_features, with_fake_payload

    (docs,) = _ctx(spark, sf_dir, "documents")
    # entropy ≤ 8 bits: round(,8) absorbs histogram summation-order ulp
    # noise (mean_byte is an integer sum / n — already deterministic)
    return byte_features(with_fake_payload(docs)).withColumn(
        "entropy", F.round("entropy", 8)
    )


@_register(
    "m06_ppm_resize",
    """
    WITH d AS (SELECT doc_id, 3 + doc_id % 6 AS w, 2 + doc_id % 4 AS h
               FROM documents),
    px AS (SELECT d.doc_id, d.w, d.h, r.r, c.c, ch.ch,
                  3 * ((r.r * d.h // 2) * d.w + (c.c * d.w // 2)) + ch.ch AS k
           FROM d,
                LATERAL (SELECT unnest(generate_series(0, 1)) AS r) r,
                LATERAL (SELECT unnest(generate_series(0, 1)) AS c) c,
                LATERAL (SELECT unnest(generate_series(0, 2)) AS ch) ch),
    v AS (SELECT doc_id, w, h, r, c, ch,
                 (strpos('0123456789abcdef',
                         substr(md5(CAST(doc_id AS VARCHAR) || ':'
                                    || CAST(k AS VARCHAR)), 1, 1)) - 1) * 16
               + (strpos('0123456789abcdef',
                         substr(md5(CAST(doc_id AS VARCHAR) || ':'
                                    || CAST(k AS VARCHAR)), 2, 1)) - 1) AS val
          FROM px),
    agg AS (SELECT doc_id, w, h,
                   sum(CASE WHEN ch = 0 THEN 299 * val
                            WHEN ch = 1 THEN 587 * val
                            ELSE 114 * val END) AS lsum
            FROM v GROUP BY doc_id, w, h)
    SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
           2 AS out_w, 2 AS out_h,
           CAST(lsum AS DOUBLE) / (255000.0 * 2 * 2) AS mean_luma_resized
    FROM agg
    """,
    survey="north-star multimodal: REAL image RESIZE — nearest-neighbor "
    "downsample to 2×2 over the same deterministic P3 payloads as m05, "
    "parsed by the real PPM codec (shared parse_ppm) under Arrow-batched "
    "mapInPandas; source pixel (r·h div 2, c·w div 2) is integer floor "
    "sampling, so the oracle re-derives the exact sampled offsets and "
    "the integer Rec.601 luma sum from the md5 byte stream without ever "
    "building the image. Completes the brief's decode / feature-extract "
    "/ RESIZE / frame-sample quartet with zero stubs. At 100 TB: "
    "scan-bound, shuffle-free, scales with payload bytes (a PIL NEAREST "
    "resize drops into resize_ppm_nn's slot unchanged).",
    note="out (2,2) pinned so every generated size (w∈[3,8], h∈[2,5]) "
    "is a genuine downsample.",
)
def m06_ppm_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generate real P3 images per doc_id, resize nearest-neighbor to
    2×2 with the real codec, emit dims + resized mean luma."""
    from ..functions.multimodal import resize_images, with_ppm_payload

    (docs,) = _ctx(spark, sf_dir, "documents")
    return resize_images(with_ppm_payload(docs.select("doc_id")), out_w=2, out_h=2)


# ---------------------------------------------------------------------------
# m07: REAL audio codec — WAV/RIFF PCM16 decode
# ---------------------------------------------------------------------------
_WAV_NIB = (
    "(strpos('0123456789abcdef', substr(md5(CAST(d.doc_id AS VARCHAR) || ':' "
    "|| CAST(u.k AS VARCHAR)), {i}, 1)) - 1)"
)
_WAV_V = (
    f"{_WAV_NIB.format(i=1)} * 4096 + {_WAV_NIB.format(i=2)} * 256 + "
    f"{_WAV_NIB.format(i=3)} * 16 + {_WAV_NIB.format(i=4)} - 32768"
)


@_register(
    "m07_wav_decode",
    f"""
    WITH d AS (SELECT doc_id, 8 + doc_id % 25 AS n,
                      8000 + (doc_id % 4) * 1000 AS rate
               FROM documents),
    s AS (SELECT d.doc_id, {_WAV_V} AS v
          FROM d, LATERAL (SELECT unnest(generate_series(0, d.n - 1))
                           AS k) u),
    agg AS (SELECT doc_id, count(*) AS ns, max(abs(v)) AS peak,
                   sum(v * v) AS sq
            FROM s GROUP BY doc_id)
    SELECT d.doc_id,
           CAST(44 + 2 * d.n AS INT) AS n_bytes,
           CAST(d.rate AS INT) AS sample_rate,
           CAST(d.n AS INT) AS n_samples,
           CAST(a.peak AS INT) AS peak_abs,
           CAST(a.sq AS DOUBLE) / d.n AS mean_square
    FROM d JOIN agg a USING (doc_id)
    """,
    survey="north-star multimodal: REAL audio codec #2 — deterministic "
    "PCM16 WAV containers (44-byte canonical RIFF header + little-endian "
    "int16 samples from an md5 stream) generated per doc and genuinely "
    "parsed back by parse_wav's chunk walk (magic sniff, fmt codec "
    "check, odd-size pad handling) under Arrow-batched mapInPandas; "
    "peak and energy accumulate in pure integers so the oracle "
    "re-derives byte length, rate, sample count, peak_abs and the "
    "square sum from the same md5 stream — a header-walk or "
    "endianness bug flips the hash. Completes the image/audio/video "
    "brief with zero stubs on the audio leg.",
    note="mean_square = int64 square sum / n — sumsq < 2^53 for any "
    "bounded clip, so the single division is the only float op and is "
    "IEEE-identical on both engines.",
)
def m07_wav_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generate real PCM16 WAV files deterministically per doc_id,
    decode them with the real RIFF codec, emit (n_bytes, sample_rate,
    n_samples, peak_abs, mean_square) — the audio decode path with
    zero stubs (audio sibling of m05's image path)."""
    from ..functions.multimodal import decode_audio, with_wav_payload

    (docs,) = _ctx(spark, sf_dir, "documents")
    # NOT scale_out-rebalanced: a same-session A/B at sf0.1 measured the
    # added exchange + per-worker batch overhead costing MORE than the
    # single-task Python gen saves (0.89s -> 1.52s); on splittable
    # production layouts the scan parallelizes by itself
    return decode_audio(with_wav_payload(docs.select("doc_id")))


# ---------------------------------------------------------------------------
# m08: REAL video container codec — RIFF/AVI chunk walk + frame extraction
# ---------------------------------------------------------------------------


@_register(
    "m08_avi_frames",
    """
    WITH d AS (SELECT doc_id, 2 + doc_id % 4 AS nf FROM documents),
    fr AS (SELECT d.doc_id, d.nf, u.k,
                  4 + (d.doc_id + u.k) % 5 AS m
           FROM d, LATERAL (SELECT unnest(generate_series(0, d.nf - 1))
                            AS k) u),
    o AS (SELECT doc_id, nf, k, m,
                 224 + 8 + coalesce(sum(8 + m + (m % 2)) OVER (
                     PARTITION BY doc_id ORDER BY k
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS off
          FROM fr),
    b AS (SELECT o.doc_id, o.k,
                 sum(('0x' || substr(md5(CAST(o.doc_id AS VARCHAR) || ':'
                      || CAST(o.k AS VARCHAR) || ':'
                      || CAST(j.j AS VARCHAR)), 1, 2))::BIGINT) AS bsum
          FROM o, LATERAL (SELECT unnest(generate_series(0, o.m - 1))
                           AS j) j
          GROUP BY o.doc_id, o.k)
    SELECT o.doc_id,
           CAST(o.nf AS INT) AS n_frames,
           CAST(o.k AS INT) AS frame_idx,
           CAST(o.off AS BIGINT) AS off,
           CAST(o.m AS INT) AS frame_bytes,
           CAST(b.bsum AS BIGINT) AS byte_sum
    FROM o JOIN b ON b.doc_id = o.doc_id AND b.k = o.k
    """,
    survey="north-star multimodal: REAL video container codec #3 — "
    "deterministic RIFF/AVI files (LIST hdrl with avih/strh/strf, "
    "LIST movi with 00db frame chunks, odd-size padding, frame bytes "
    "from an md5 stream) generated per doc by make_avi and genuinely "
    "parsed back by parse_avi's chunk walk (magic sniff, hdrl walk "
    "for dwMicroSecPerFrame/dwTotalFrames, movi walk for ##db/##dc "
    "frames, declared-vs-actual frame-count cross-check) under "
    "Arrow-batched one-to-many mapInPandas. The emitted rows carry "
    "each frame's ABSOLUTE byte offset, size, and integer byte sum, "
    "and the oracle re-derives all three from the md5 stream and the "
    "documented fixed header layout (AVI_MOVI_BASE + cumulative "
    "chunk sizes) — a chunk-walk, padding, or offset bug flips the "
    "hash. Completes the image/audio/VIDEO quartet with zero stubs: "
    "m03's frame-sampling contract now runs from genuinely parsed "
    "frame offsets (sample_avi_frames supersedes deterministic "
    "slicing).",
    note="ffmpeg/PyAV drop into the same mapInPandas slot for real "
    "codecs inside the frames; the container walk, offsets, batching "
    "and error contract are exactly what they would ride on.",
)
def m08_avi_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generate real AVI containers deterministically per doc_id,
    parse them with the real RIFF/AVI chunk walk, emit one row per
    extracted frame (offset, size, byte sum) — the video leg of the
    multimodal quartet with zero stubs."""
    from ..functions.multimodal import sample_avi_frames, with_avi_payload

    (docs,) = _ctx(spark, sf_dir, "documents")
    # NOT scale_out-rebalanced: same A/B rationale as m07 above
    return sample_avi_frames(with_avi_payload(docs.select("doc_id")))


# ---------------------------------------------------------------------------
# m09: AVI keyframe detection
# ---------------------------------------------------------------------------
@_register(
    "m09_avi_keyframes",
    """
    WITH d AS (SELECT doc_id, 2 + doc_id % 4 AS nf FROM documents),
    fr AS (SELECT d.doc_id, u.k, 4 + (d.doc_id + u.k) % 5 AS m
           FROM d, LATERAL (SELECT unnest(generate_series(0, d.nf - 1))
                            AS k) u),
    pr AS (SELECT c.doc_id, c.k, p.m AS m_prev, c.m AS m_cur
           FROM fr c JOIN fr p ON p.doc_id = c.doc_id AND p.k = c.k - 1),
    diffs AS (
      SELECT pr.doc_id, pr.k, pr.m_prev, pr.m_cur,
             sum(abs(
               ('0x' || substr(md5(CAST(pr.doc_id AS VARCHAR) || ':'
                    || CAST(pr.k AS VARCHAR) || ':'
                    || CAST(j.j AS VARCHAR)), 1, 2))::BIGINT
               - ('0x' || substr(md5(CAST(pr.doc_id AS VARCHAR) || ':'
                    || CAST(pr.k - 1 AS VARCHAR) || ':'
                    || CAST(j.j AS VARCHAR)), 1, 2))::BIGINT)) AS diff_sum
      FROM pr, LATERAL (SELECT unnest(generate_series(0,
               least(pr.m_prev, pr.m_cur) - 1)) AS j) j
      GROUP BY 1, 2, 3, 4)
    SELECT doc_id,
           CAST(k AS INT) AS frame_idx,
           CAST(m_prev AS INT) AS prev_bytes,
           CAST(m_cur AS INT) AS frame_bytes,
           CAST(diff_sum AS BIGINT) AS diff_sum,
           CASE WHEN 2 * diff_sum >= 255 * least(m_prev, m_cur)
                THEN 1 ELSE 0 END AS is_key
    FROM diffs
    """,
    survey="north-star multimodal completion: keyframe / scene-cut "
    "detection over the REAL RIFF/AVI chunk walk — per consecutive "
    "movi frame pair, the integer sum of absolute byte differences "
    "over the overlapping prefix and the exact integer keyframe "
    "predicate 2·diff ≥ 255·min(len) (mean diff ≥ half the byte "
    "range; no float thresholds). The frame-sampling policy video "
    "curation ships (keep cuts, drop near-static frames), computed "
    "inside the same Arrow mapInPandas kernel as the parse so no "
    "exploded frame table and no window shuffle ever exist; the "
    "oracle re-derives every byte of both frames from the md5 movi "
    "stream. m03/m08's sampling legs pick frames by position — this "
    "one picks them by CONTENT.",
)
def m09_avi_keyframes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-pair byte diffs + integer keyframe flags from genuinely
    parsed per-doc AVI containers."""
    from ..functions.multimodal import avi_keyframes, with_avi_payload

    (docs,) = _ctx(spark, sf_dir, "documents")
    return avi_keyframes(with_avi_payload(docs.select("doc_id")))


# ---------------------------------------------------------------------------
# m10: image near-dup via aHash + hamming band join
# ---------------------------------------------------------------------------

#: (doc_id, simhash_bits) derivation of the image aHash from the md5
#: sample stream — content keyed by g = doc_id // 2, odd siblings
#: perturb sample 0 by +1 mod 256 (with_ppm_pair_payload's rule), NN
#: 8x8 grid via integer division (resize_ppm_nn's index rule), bit =
#: 64*cell_luma > total. Aliased simhash_bits for the shared d09
#: band/refine template.
#: Shared CTE prefix re-deriving the with_ppm_pair_payload sample
#: stream down to the 8×8 NN luma grid — (doc_id, r, c, luma) rows.
#: m10 thresholds these cells directly (aHash); m11
#: runs the fixed-point DCT over the same grid (pHash).
_PPM_CELLS_CTES = """
      WITH d AS (SELECT doc_id, doc_id // 2 AS g,
                        3 + (doc_id // 2) % 6 AS w,
                        2 + (doc_id // 2) % 4 AS h
                 FROM documents),
      s AS (SELECT d.doc_id, d.w, d.h, u.k,
                   ((strpos('0123456789abcdef',
                            substr(md5(CAST(d.g AS VARCHAR) || ':'
                                       || CAST(u.k AS VARCHAR)), 1, 1)) - 1) * 16
                    + (strpos('0123456789abcdef',
                              substr(md5(CAST(d.g AS VARCHAR) || ':'
                                         || CAST(u.k AS VARCHAR)), 2, 1)) - 1)
                    + CASE WHEN d.doc_id % 2 = 1 AND u.k = 0
                           THEN 1 ELSE 0 END) % 256 AS v
            FROM d, LATERAL (SELECT unnest(generate_series(0, 3*d.w*d.h - 1))
                             AS k) u),
      pix AS (SELECT doc_id, w, h, k // 3 AS p,
                     sum(CASE WHEN k % 3 = 0 THEN 299 * v
                              WHEN k % 3 = 1 THEN 587 * v
                              ELSE 114 * v END) AS luma
              FROM s GROUP BY doc_id, w, h, k // 3),
      cells AS (SELECT p1.doc_id, rr.r, cc.c, p2.luma
                FROM (SELECT DISTINCT doc_id, w, h FROM pix) p1,
                     (SELECT unnest(generate_series(0, 7)) AS r) rr,
                     (SELECT unnest(generate_series(0, 7)) AS c) cc
                JOIN pix p2 ON p2.doc_id = p1.doc_id
                           AND p2.p = (rr.r * p1.h // 8) * p1.w
                                      + (cc.c * p1.w // 8))
"""

_M10_BITS_SQL = f"""
    SELECT bb.doc_id, bb.b AS simhash_bits FROM (
      {_PPM_CELLS_CTES},
      tot AS (SELECT doc_id, sum(luma) AS t FROM cells GROUP BY doc_id)
      SELECT c.doc_id,
             string_agg(CASE WHEN 64 * c.luma > t.t THEN '1' ELSE '0' END,
                        '' ORDER BY c.r, c.c) AS b
      FROM cells c JOIN tot t USING (doc_id)
      GROUP BY c.doc_id) bb
"""


@_register(
    "m10_image_ahash_neardup",
    _d13_oracle(bits=64, n_bands=4, cap=64, sh_sql=_M10_BITS_SQL),
    survey="north-star multimodal completion: IMAGE near-dup — 64-bit "
    "average-hash (aHash) fingerprints computed from genuinely parsed "
    "PPM containers (NN 8×8 grid by resize_ppm_nn's integer index "
    "rule, integer Rec.601 luma, bit = 64·cell > Σcells so the "
    "threshold is exact integer arithmetic), then the d09 pigeonhole "
    "band join + bit_count(xor) hamming refine over the SAME "
    "hamming_pairs_from_bits machinery the text SimHash path uses — "
    "perceptual image dedup as a composition of two already-verified "
    "legs. Sibling payloads (content keyed by doc_id//2, odd ids "
    "perturb one channel of one pixel) plant genuine near-duplicates "
    "so the compare is non-vacuous at every SF; the oracle re-derives "
    "every sample byte, the NN grid, the integer threshold, and the "
    "band/refine from the md5 stream.",
    note="REGISTERED CAPPED (bucket_cap=64, the library default, d13's "
    "star-cap oracle template) — unlike d09's text SimHash, aHash bands "
    "on small images are LOW-ENTROPY (the 8×8 NN grid replicates "
    "source pixels, so band values concentrate far below 2^16): the "
    "uncapped band join was measured at 100× shuffling its way into "
    "disk exhaustion (841s, killed by the sweep harness), the exact "
    "quadratic trap the star cap exists for. Same output on every "
    "corpus whose buckets stay under the cap (sf0.001 identity pinned "
    "by test).",
)
def m10_image_ahash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """aHash fingerprints of sibling-pair PPM images -> hamming ≤ 3
    pairs via the pigeonhole band join."""
    from ..functions.dedup import hamming_pairs_from_bits
    from ..functions.multimodal import ahash_bits, with_ppm_pair_payload
    from ..sources.tables import scale_out

    (docs,) = _ctx(spark, sf_dir, "documents")
    # scale_out HERE, unlike m05/m07/m08 (their kernels are the whole
    # query, cheap enough to amortize one task at the tested corpora):
    # m10 pays ~60 ASCII int parses per image TWICE (generator + hash)
    # and then feeds a join — on the driver's single-row-group 100x
    # layout the unbalanced form ran ONE task for ~20 min before the
    # band join even started (measured, killed); rebalanced it tracks
    # the other codec kernels
    fps = ahash_bits(
        with_ppm_pair_payload(scale_out(docs.select("doc_id"), "doc_id"))
    )
    return hamming_pairs_from_bits(
        fps, bits_col="ahash_bits", bits=64, max_hamming=3, n_bands=4,
        bucket_cap=64,
    )


# ---------------------------------------------------------------------------
# m11: perceptual image near-dup via integer 8x8 DCT pHash
# ---------------------------------------------------------------------------

#: unrolled separable DCT as pure per-doc scalar expressions,
#: generated from the SAME hardcoded COS14 literal the Arrow kernel
#: uses so the two engines cannot disagree on a single coefficient.
#: WHY unrolled, not a cos-table join: the first m11 100× attempt
#: joined a 64-row basis relation against the 32M-row cell relation
#: twice (rows then columns) — ~0.5e9 intermediate rows per pass, and
#: DuckDB spilled its way into disk exhaustion beside the corpus
#: (measured, sweep record kept). The separable transform over a
#: per-doc 64-element list needs NO join at all: 64 row-pass
#: expressions of 8 terms, 64 column-pass expressions of 8 terms,
#: evaluated streaming over 500k pivoted rows.
_ROWT_COLS = ",\n             ".join(
    f"({' + '.join(f'l[{r * 8 + x + 1}] * ({COS14[v][x]})' for x in range(8))})"
    f" AS r{r}v{v}"
    for r in range(8)
    for v in range(8)
)
_COLT_COLS = ",\n             ".join(
    f"({' + '.join(f'({COS14[u][r]}) * r{r}v{v}' for r in range(8))})"
    f" AS d{u}_{v}"
    for u in range(8)
    for v in range(8)
)
_SAC_EXPR = " + ".join(
    f"d{u}_{v}" for u in range(8) for v in range(8) if (u, v) != (0, 0)
)
_BITS_EXPR = " || ".join(
    "'0'"
    if (u, v) == (0, 0)
    else f"(CASE WHEN 63 * d{u}_{v} > s THEN '1' ELSE '0' END)"
    for u in range(8)
    for v in range(8)
)

#: (doc_id, simhash_bits) derivation of the image DCT pHash from the
#: md5 sample stream: the shared m10 cell CTEs produce the 8×8 NN luma
#: grid (pivoted to one 64-element list per doc), then the unrolled
#: fixed-point DCT-II above and bit (u,v) = 63·D[u][v] > Σ AC with the
#: DC bit fixed 0. Aliased simhash_bits for the shared d09 band/refine
#: template.
_M11_BITS_SQL = f"""
    SELECT bb.doc_id, bb.b AS simhash_bits FROM (
      {_PPM_CELLS_CTES},
      grid AS (SELECT doc_id, list(luma ORDER BY r, c) AS l
               FROM cells GROUP BY doc_id),
      rowt AS (SELECT doc_id,
             {_ROWT_COLS}
               FROM grid),
      colt AS (SELECT doc_id,
             {_COLT_COLS}
               FROM rowt),
      sc AS (SELECT doc_id, ({_SAC_EXPR}) AS s, * FROM colt)
      SELECT doc_id, ({_BITS_EXPR}) AS b FROM sc) bb
"""


@_register(
    "m11_image_phash_neardup",
    _d13_oracle(bits=64, n_bands=4, cap=64, sh_sql=_M11_BITS_SQL),
    survey="north-star multimodal completion: perceptual image near-dup "
    "at production quality — 64-bit DCT pHash (the fingerprint family "
    "aHash is the weak cousin of): same genuinely parsed PPM payloads "
    "and 8×8 NN integer-luma grid as m10, then a separable FIXED-POINT "
    "integer 8×8 DCT-II (hardcoded 2^14-scaled basis shared verbatim "
    "between the Arrow kernel and the generated oracle SQL) and bit "
    "(u,v) = 63·coef > Σ AC with the DC bit pinned 0 — so global "
    "brightness, exactly what a perceptual hash must ignore, never "
    "touches the fingerprint, and localized pixel noise spreads across "
    "basis responses instead of flipping cells one-for-one (robustness "
    "fixture: a 3-sample perturbation that flips aHash past its "
    "hamming gate leaves pHash inside it). Fingerprints feed the SAME "
    "hamming_pairs_from_bits band join as d09/d13/m10.",
    note="REGISTERED CAPPED from birth (bucket_cap=64) — m10's lesson: "
    "perceptual bands on small images are low-entropy and the uncapped "
    "band join is the quadratic trap the star cap exists for.",
)
def m11_image_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DCT-pHash fingerprints of sibling-pair PPM images -> hamming ≤ 3
    pairs via the pigeonhole band join (star-capped)."""
    from ..functions.dedup import hamming_pairs_from_bits
    from ..functions.multimodal import phash_bits, with_ppm_pair_payload
    from ..sources.tables import scale_out

    (docs,) = _ctx(spark, sf_dir, "documents")
    # scale_out for the same reason as m10: the kernel re-derives ~60
    # ASCII int parses per image and feeds a join — single-row-group
    # layouts would run it as ONE task
    fps = phash_bits(
        with_ppm_pair_payload(scale_out(docs.select("doc_id"), "doc_id"))
    )
    return hamming_pairs_from_bits(
        fps, bits_col="phash_bits", bits=64, max_hamming=3, n_bands=4,
        bucket_cap=64,
    )


# ---------------------------------------------------------------------------
# m12: video-level near-dup via keyframe pHash composition
# ---------------------------------------------------------------------------
def _m12_sample_sql(alias: str, s: str, rep: str, j: str) -> str:
    """Closed-form SQL for ONE sample value of with_avi_ppm_pair_payload
    — first md5 byte of "{g}:{s}:{j}" (the m10 strpos-over-hex form)
    plus the rep-frame (+1 at j=0) and odd-sibling (+1 at j=1 in scene
    0) perturbations, mod 256. Parameterized over the row alias and the
    scene/rep/sample-index expressions so the SAME generator emits the
    current frame, the PREVIOUS frame (s=(k-1)//2, rep=(k-1)%2 of the
    same row — no self-join), and the three channel samples of a grid
    cell. This join-free restatement replaced a 300M-row sample
    self-join + list pivot measured into DuckDB DISK EXHAUSTION at
    100x (966s, crash kept in /tmp/sweep100x_r10.jsonl — the m11
    cos-table lesson at video scale)."""
    md5 = (
        f"md5(CAST({alias}.g AS VARCHAR) || ':' || CAST({s} AS VARCHAR)"
        f" || ':' || CAST({j} AS VARCHAR))"
    )
    return (
        f"((((strpos('0123456789abcdef', substr({md5}, 1, 1)) - 1) * 16"
        f" + (strpos('0123456789abcdef', substr({md5}, 2, 1)) - 1))"
        f" + CASE WHEN {rep} = 1 AND {j} = 0 THEN 1 ELSE 0 END"
        f" + CASE WHEN {alias}.doc_id % 2 = 1 AND {s} = 0 AND {j} = 1"
        f" THEN 1 ELSE 0 END) % 256)"
    )


_M12_CUR = _m12_sample_sql("fr", "fr.s", "fr.rep", "u.j")
_M12_PRV = _m12_sample_sql("fr", "((fr.k - 1) // 2)", "((fr.k - 1) % 2)", "u.j")
_M12_PIX = "(3 * ((rr.r * fr.h // 8) * fr.w + (cc.c * fr.w // 8)))"
_M12_CELL = " + ".join(
    f"{coef} * {_m12_sample_sql('fr', 'fr.s', 'fr.rep', f'({_M12_PIX} + {ch})')}"
    for ch, coef in enumerate((299, 587, 114))
)

#: Shared CTE prefix re-deriving with_avi_ppm_pair_payload's sample
#: streams down to the per-video keyframe index — (doc_id, k) frames,
#: consecutive-frame sample diffs (BOTH frames' values derived
#: closed-form per row, so there is no sample self-join and no
#: materialized sample relation — streaming expressions + one
#: group-by), the integer scene-cut predicate, and kf_idx/n_kf. The
#: only structural bound is the generator's own 3wh ≤ 360 (w ≤ 8,
#: h ≤ 5 closed-form), expressed as a LATERAL generate_series over the
#: per-row 3wh — no corpus cap.
_M12_KF_CTES = f"""
      WITH d AS (SELECT doc_id, doc_id // 2 AS g,
                        3 + (doc_id // 2) % 6 AS w,
                        2 + (doc_id // 2) % 4 AS h,
                        2 + (doc_id // 2) % 2 AS ns
                 FROM documents),
      fr AS (SELECT d.doc_id, d.g, d.w, d.h, sc2.s, rp.rep,
                    sc2.s * 2 + rp.rep AS k
             FROM d,
                  (SELECT unnest(generate_series(0, 2)) AS s) sc2,
                  (SELECT unnest(generate_series(0, 1)) AS rep) rp
             WHERE sc2.s < d.ns),
      dfr AS (SELECT fr.doc_id, fr.k,
                     sum(abs({_M12_CUR} - {_M12_PRV})) AS diff,
                     count(*) AS m
              FROM fr, LATERAL (SELECT unnest(generate_series(
                                0, 3 * fr.w * fr.h - 1)) AS j) u
              WHERE fr.k >= 1
              GROUP BY fr.doc_id, fr.k),
      kfl AS (SELECT f.doc_id, f.k,
                     CASE WHEN f.k = 0 OR 4 * d2.diff >= 255 * d2.m
                          THEN 1 ELSE 0 END AS is_key
              FROM (SELECT doc_id, k FROM fr) f
              LEFT JOIN dfr d2 ON d2.doc_id = f.doc_id AND d2.k = f.k),
      kfi AS (SELECT doc_id, k,
                     row_number() OVER (PARTITION BY doc_id ORDER BY k)
                       - 1 AS kf_idx,
                     count(*) OVER (PARTITION BY doc_id) AS n_kf
              FROM kfl WHERE is_key = 1)
"""

#: AGGREGATE-form DCT: d[u][v] = Σ_{{r,c}} luma(r,c)·COS14[u][r]·COS14[v][c]
#: as 64 SUM aggregates over the cell rows — the same int64s as the
#: kernel's separable two-pass form (the double sum is its expansion;
#: every partial is |·| ≤ 2^53, far under int64). WHY not the m11
#: unrolled list form: under DuckDB 1.0's CTE materializer the
#: list-pivot + 64-wide projection chain balloons virtual address
#: space ~1.5GB/s until HOST malloc fails (measured at 100×: crash at
#: ~100s with only ~22GB RSS and 122GB free, whatever the
#: memory_limit); the aggregate form runs the identical math through
#: one streaming hash aggregate — 48s / 4.6GB at 100×, fingerprints
#: verified identical (577,982 distinct on both forms).
_M12_CASE_R = [
    "CASE r " + " ".join(f"WHEN {r} THEN {COS14[u][r]}" for r in range(8))
    + " END"
    for u in range(8)
]
_M12_CASE_C = [
    "CASE c " + " ".join(f"WHEN {c} THEN {COS14[v][c]}" for c in range(8))
    + " END"
    for v in range(8)
]
_M12_DCT_AGGS = ",\n               ".join(
    f"SUM(luma * ({_M12_CASE_R[u]}) * ({_M12_CASE_C[v]})) AS d{u}_{v}"
    for u in range(8)
    for v in range(8)
)
_M12_SAC = " + ".join(
    f"d{u}_{v}" for u in range(8) for v in range(8) if (u, v) != (0, 0)
)
_M12_BITS = " || ".join(
    "'0'"
    if (u, v) == (0, 0)
    else f"(CASE WHEN 63 * d{u}_{v} > s THEN '1' ELSE '0' END)"
    for u in range(8)
    for v in range(8)
)

# the d13 band/refine machinery generated FLAT for bits=64, n_bands=4,
# cap=64, hamming<=3 (the same loops as dedup._d13_oracle —
# m12 cannot nest its fingerprint derivation inside that template's
# sh CTE, see the note there). sh/ann are MATERIALIZED: each is
# referenced more than once downstream.
_M12_WORDS = []
for _i in range(2):
    _val = " + ".join(
        f"(CASE WHEN substr(simhash_bits, {_i * 32 + _j + 1}, 1) = '1' "
        f"THEN {1 << (31 - _j)} ELSE 0 END)"
        for _j in range(32)
    )
    _M12_WORDS.append(f"({_val}) AS w{_i}")
_M12_WORDS_SEL = ", ".join(_M12_WORDS)
_M12_HAM = "bit_count(xor(w0a, w0b)) + bit_count(xor(w1a, w1b))"

_M12_BAND_CTES = f"""
      v AS (SELECT doc_id, simhash_bits, {_M12_WORDS_SEL} FROM sh),
      bnd AS (SELECT doc_id, u.j,
                     substr(simhash_bits, u.j * 16 + 1, 16) AS band
              FROM v, LATERAL (SELECT unnest(generate_series(0, 3)) AS j) u),
      ann AS MATERIALIZED (
        SELECT doc_id, j, band,
               count(*) OVER (PARTITION BY j, band) AS m,
               min(doc_id) OVER (PARTITION BY j, band) AS mn
        FROM bnd),
      prs AS (SELECT DISTINCT doc_a, doc_b FROM (
        SELECT a.doc_id AS doc_a, b2.doc_id AS doc_b
        FROM ann a JOIN ann b2 ON a.j = b2.j AND a.band = b2.band
                               AND a.doc_id < b2.doc_id
        WHERE a.m <= 64
        UNION ALL
        SELECT mn AS doc_a, doc_id AS doc_b FROM ann
        WHERE m > 64 AND doc_id <> mn)),
      cnd AS (SELECT p.doc_a, p.doc_b, va.w0 AS w0a, va.w1 AS w1a,
                     vb.w0 AS w0b, vb.w1 AS w1b
              FROM prs p JOIN v va ON va.doc_id = p.doc_a
                         JOIN v vb ON vb.doc_id = p.doc_b),
      fpairs AS (SELECT doc_a, doc_b FROM cnd WHERE {_M12_HAM} <= 3)
"""


@_register(
    "m12_video_phash_neardup",
    f"""
    {_M12_KF_CTES.strip()},
      kfr AS (SELECT fr.doc_id, fr.g, fr.w, fr.h, fr.s, fr.rep, fr.k,
                     i.kf_idx, i.n_kf
              FROM fr JOIN kfi i ON i.doc_id = fr.doc_id AND i.k = fr.k),
      cl AS (SELECT fr.doc_id, fr.k, fr.kf_idx, fr.n_kf, rr.r, cc.c,
                    {_M12_CELL} AS luma
             FROM kfr fr,
                  (SELECT unnest(generate_series(0, 7)) AS r) rr,
                  (SELECT unnest(generate_series(0, 7)) AS c) cc),
      dct AS (SELECT doc_id, k, kf_idx, n_kf,
               {_M12_DCT_AGGS}
              FROM cl GROUP BY doc_id, k, kf_idx, n_kf),
      scc AS (SELECT *, ({_M12_SAC}) AS s FROM dct),
      sh AS MATERIALIZED (
        SELECT (doc_id * 8 + kf_idx) * 8 + n_kf AS doc_id,
               ({_M12_BITS}) AS simhash_bits
        FROM scc),
      {_M12_BAND_CTES.strip()},
    ag AS (SELECT doc_a // 64 AS video_a, doc_b // 64 AS video_b,
                  count(DISTINCT doc_a // 8) AS na,
                  count(DISTINCT doc_b // 8) AS nb,
                  max(doc_a % 8) AS n_kf_a, max(doc_b % 8) AS n_kf_b
           FROM fpairs WHERE doc_a // 64 < doc_b // 64
           GROUP BY doc_a // 64, doc_b // 64)
    SELECT video_a, video_b,
           CAST(n_kf_a AS BIGINT) AS n_kf_a,
           CAST(n_kf_b AS BIGINT) AS n_kf_b,
           CAST(na AS BIGINT) AS n_matched_a,
           CAST(nb AS BIGINT) AS n_matched_b
    FROM ag WHERE 2 * na >= n_kf_a AND 2 * nb >= n_kf_b
    """,
    survey="north-star multimodal capstone: VIDEO-level near-dup — the "
    "m09 × m11 composition the pieces existed for: genuinely parsed "
    "AVI containers of genuinely parsed PPM frames, scene-cut "
    "keyframing on the DECODED sample streams (integer predicate "
    "4·diff ≥ 255·m — m09's container-byte diff moved to pixels, "
    "where real scene-cut detectors operate; frame 0 always a scene "
    "start), m11's fixed-point COS14 DCT pHash per keyframe, then the "
    "SHARED star-capped hamming band machinery over composite frame "
    "ids ((doc_id·8 + kf_idx)·8 + n_kf — collision-free and "
    "self-describing: video = fid DIV 64, keyframe = fid DIV 8, "
    "n_kf = fid % 8; n_frames ≤ 6 is the generator's closed form, not "
    "a corpus cap — so the per-video keyframe COUNT rides the pair "
    "stream and the kernel output needs neither a persist nor a "
    "second pass), aggregated to a bounded per-video-pair audit: a "
    "pair is a "
    "near-dup when ≥ HALF of EACH video's keyframes have a hamming-≤3 "
    "partner in the other (n_kf_a/b, n_matched_a/b reported — the "
    "match-fraction evidence). Sibling payloads (content keyed by "
    "doc_id//2; the odd sibling perturbs one sample of scene 0 in "
    "every frame) plant genuine video near-dups the single-sample "
    "pHash robustness must keep connected.",
    note="REGISTERED CAPPED from birth (bucket_cap=64, the m10/m11 "
    "lesson — perceptual bands on small frames are low-entropy). The "
    "codec kernel runs ONCE: n_kf is encoded in the low 3 bits of the "
    "composite frame id so the audit adds no second kernel TYPE, and "
    "the shared band machinery persists the compact fingerprint table "
    "(optimization r11 — the fully-lazy form re-executed the kernel "
    "under five plan subtrees; plan-pinned: kernel count matches m11, "
    "single cached fingerprint relation).",
)
def m12_video_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video pairs whose keyframe fingerprint sets mutually match on
    ≥ half their keyframes (see functions.multimodal.avi_keyframe_phash
    + functions.dedup.hamming_pairs_from_bits)."""
    from ..functions.dedup import hamming_pairs_from_bits
    from ..functions.multimodal import (
        avi_keyframe_phash,
        with_avi_ppm_pair_payload,
    )
    from ..sources.tables import scale_out

    (docs,) = _ctx(spark, sf_dir, "documents")
    # scale_out: the codec kernel parses the whole container per row —
    # single-row-group layouts would run it as ONE task (m10's lesson)
    kf = avi_keyframe_phash(
        with_avi_ppm_pair_payload(scale_out(docs.select("doc_id"), "doc_id"))
    )
    # composite frame id: video DIV 64, keyframe DIV 8, n_kf in the low
    # 3 bits (n_frames <= 6 by the generator's closed form) — the
    # per-video count rides the pair stream, so ONE lazy kernel pass
    fp = kf.select(
        (
            (F.col("doc_id") * 8 + F.col("kf_idx")) * 8 + F.col("n_kf")
        ).alias("doc_id"),
        "phash_bits",
    )
    pairs = hamming_pairs_from_bits(
        fp, bits_col="phash_bits", bits=64, max_hamming=3, n_bands=4,
        bucket_cap=64,
    )
    ag = (
        pairs.select(
            F.expr("doc_a DIV 64").alias("video_a"),
            F.expr("doc_b DIV 64").alias("video_b"),
            F.expr("doc_a DIV 8").alias("kfid_a"),
            F.expr("doc_b DIV 8").alias("kfid_b"),
            F.expr("doc_a % 8").alias("nk_a"),
            F.expr("doc_b % 8").alias("nk_b"),
        )
        .filter(F.col("video_a") < F.col("video_b"))
        .groupBy("video_a", "video_b")
        .agg(
            F.countDistinct("kfid_a").cast("long").alias("n_matched_a"),
            F.countDistinct("kfid_b").cast("long").alias("n_matched_b"),
            F.max("nk_a").cast("long").alias("n_kf_a"),
            F.max("nk_b").cast("long").alias("n_kf_b"),
        )
    )
    return ag.filter(
        (2 * F.col("n_matched_a") >= F.col("n_kf_a"))
        & (2 * F.col("n_matched_b") >= F.col("n_kf_b"))
    ).select(
        "video_a", "video_b", "n_kf_a", "n_kf_b",
        "n_matched_a", "n_matched_b",
    )


# ---------------------------------------------------------------------------
# m13: audio fingerprint near-dup (integer sub-band energy signatures)
# ---------------------------------------------------------------------------

# the shared flat band/refine machinery (bits=64, n_bands=4, cap=64,
# hamming<=3) — the same generated CTE block m12 uses; it consumes a
# MATERIALIZED sh(doc_id, simhash_bits) and yields fpairs(doc_a, doc_b)
_HEX = "strpos('0123456789abcdef', substr({md5}, {pos}, 1)) - 1"


def _m13_base(key_sql: str) -> str:
    """Closed-form base sample: (int16-of-first-4-md5-hex-chars %
    32768) − 16384 — the exact integer the generator packs."""
    md5 = f"md5({key_sql})"
    v16 = " + ".join(
        f"({_HEX.format(md5=md5, pos=p + 1)}) * {16 ** (3 - p)}"
        if p < 3
        else f"({_HEX.format(md5=md5, pos=p + 1)})"
        for p in range(4)
    )
    return f"((({v16}) % 32768) - 16384)"


def _m13_val(i_expr: str) -> str:
    """Closed-form SQL for ONE decoded PCM sample of
    with_wav_pair_payload — base content keyed by (g, w, i), the odd
    sibling amplitude-doubled with window g%nw spliced — parameterized
    over the sample-index expression so the chunk-energy form can
    derive BOTH samples of a chunk per row (no 128-sample relation,
    no sample self-anything — the m12 closed-form lesson)."""
    key = (
        "CAST(wi.g AS VARCHAR) || ':' || CAST(wi.w AS VARCHAR)"
        f" || ':' || CAST({i_expr} AS VARCHAR)"
    )
    skey = (
        "CAST(wi.g AS VARCHAR) || ':spliced:'"
        f" || CAST({i_expr} AS VARCHAR)"
    )
    return f"""CASE
            WHEN wi.doc_id % 2 = 0 THEN {_m13_base(key)}
            WHEN wi.w = wi.g % wi.nw THEN 2 * {_m13_base(skey)}
            ELSE 2 * {_m13_base(key)} END"""


#: chunk energy = v0² + v1² — both samples closed-form per
#: (window, chunk) row (projected to v0/v1 aliases first so each md5
#: stream is written once), exact integers end to end

#: the m12 aggregate-form pivot: 64 SUM(CASE) aggregates per window —
#: one streaming hash aggregate, NO window function and NO ordered
#: aggregate. WHY: the first registered form (sample relation →
#: GROUP BY chunk → sum() OVER (PARTITION BY window) → string_agg
#: ORDER BY) ballooned DuckDB's allocator at 100× exactly like m12's
#: list-pivot DCT (bad allocation at 725s with the engine side
#: already green at 250,000 rows — crash kept in
#: /tmp/sweep100x_r11.jsonl); this form runs the identical integer
#: math through the dct-style wide aggregate that measured 48s/4.6GB
#: for m12.
_M13_E_AGGS = ",\n               ".join(
    f"SUM(CASE WHEN j = {j} THEN e END) AS e{j}" for j in range(64)
)
_M13_TOT = " + ".join(f"e{j}" for j in range(64))
_M13_BITS = " || ".join(
    f"(CASE WHEN 64 * e{j} > s THEN '1' ELSE '0' END)" for j in range(64)
)


@_register(
    "m13_audio_fingerprint_neardup",
    f"""
    WITH d AS (SELECT doc_id, doc_id // 2 AS g,
                      2 + (doc_id // 2) % 3 AS nw
               FROM documents),
    wi AS (SELECT d.doc_id, d.g, d.nw, u.w
           FROM d, (SELECT unnest(generate_series(0, 3)) AS w) u
           WHERE u.w < d.nw),
    cj AS (SELECT doc_id, nw, w, j, v0 * v0 + v1 * v1 AS e FROM (
           SELECT wi.doc_id, wi.nw, wi.w, u.j,
                  {_m13_val("(2 * u.j)")} AS v0,
                  {_m13_val("(2 * u.j + 1)")} AS v1
           FROM wi, (SELECT unnest(generate_series(0, 63)) AS j) u)),
    ew AS (SELECT doc_id, nw, w,
               {_M13_E_AGGS}
           FROM cj GROUP BY doc_id, nw, w),
    es AS (SELECT *, ({_M13_TOT}) AS s FROM ew),
    sh AS MATERIALIZED (
      SELECT (doc_id * 8 + w) * 8 + nw AS doc_id,
             ({_M13_BITS}) AS simhash_bits
      FROM es),
    {_M12_BAND_CTES.strip()},
    ag AS (SELECT doc_a // 64 AS clip_a, doc_b // 64 AS clip_b,
                  count(DISTINCT doc_a // 8) AS na,
                  count(DISTINCT doc_b // 8) AS nb,
                  max(doc_a % 8) AS n_win_a, max(doc_b % 8) AS n_win_b
           FROM fpairs WHERE doc_a // 64 < doc_b // 64
           GROUP BY doc_a // 64, doc_b // 64)
    SELECT clip_a, clip_b,
           CAST(n_win_a AS BIGINT) AS n_win_a,
           CAST(n_win_b AS BIGINT) AS n_win_b,
           CAST(na AS BIGINT) AS n_matched_a,
           CAST(nb AS BIGINT) AS n_matched_b
    FROM ag WHERE 2 * na >= n_win_a AND 2 * nb >= n_win_b
    """,
    survey="north-star multimodal completion: AUDIO fingerprint "
    "near-dup (VERDICT r10 task 2) — the modality matrix's last cell "
    "(text d02/d03, image m10/m11, video m12, now audio): REAL "
    "RIFF/WAVE PCM16 parses (parse_wav — the m07 codec) cut into "
    "128-sample windows, each fingerprinted by the integer sub-band "
    "energy comparison chunks·E_j > ΣE (64 exact int square-sums per "
    "window — the Haitsma/Kalker energy-signature lineage in m10's "
    "aHash comparison form, fixed-point like COS14, no libm), then "
    "the SHARED star-capped hamming band machinery over composite "
    "window ids ((doc_id·8 + win_idx)·8 + n_win — clip = fid DIV 64, "
    "window = fid DIV 8, n_win = fid % 8 ≤ 4 by the generator's "
    "closed form), aggregated to the m12 half-rule: a clip pair is a "
    "near-dup when ≥ half of EACH clip's windows have a hamming-≤3 "
    "partner in the other. The sibling fixture plants the two "
    "robustness contracts: the odd sibling is amplitude-DOUBLED "
    "(energies scale ×4 uniformly — every bit provably unchanged, "
    "the pair must stay connected) with ONE spliced window (different "
    "content — exactly its windows drop out of the match set).",
    note="REGISTERED CAPPED from birth (bucket_cap=64, the m10/m11/"
    "m12 lesson). ONE kernel pass — n_win rides the composite id "
    "like m12's n_kf (no second kernel TYPE), and the shared band "
    "machinery persists the compact fingerprint table (optimization "
    "r11: one kernel execution instead of five subtree replays). "
    "Oracle is pure integer arithmetic end to end (closed-form md5 "
    "samples, exact int energies, integer comparisons) — "
    "tolerance-free by construction, no float discipline needed.",
)
def m13_audio_fingerprint_neardup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Clip pairs whose window fingerprint sets mutually match on
    ≥ half their windows (see functions.multimodal
    .wav_window_fingerprints + functions.dedup
    .hamming_pairs_from_bits)."""
    from ..functions.dedup import hamming_pairs_from_bits
    from ..functions.multimodal import (
        wav_window_fingerprints,
        with_wav_pair_payload,
    )
    from ..sources.tables import scale_out

    (docs,) = _ctx(spark, sf_dir, "documents")
    # scale_out: the codec kernel parses the whole clip per row —
    # single-row-group layouts would run it as ONE task (m10's lesson)
    fps = wav_window_fingerprints(
        with_wav_pair_payload(scale_out(docs.select("doc_id"), "doc_id"))
    )
    fp = fps.select(
        (
            (F.col("doc_id") * 8 + F.col("win_idx")) * 8 + F.col("n_win")
        ).alias("doc_id"),
        "fp_bits",
    )
    pairs = hamming_pairs_from_bits(
        fp, bits_col="fp_bits", bits=64, max_hamming=3, n_bands=4,
        bucket_cap=64,
    )
    ag = (
        pairs.select(
            F.expr("doc_a DIV 64").alias("clip_a"),
            F.expr("doc_b DIV 64").alias("clip_b"),
            F.expr("doc_a DIV 8").alias("wid_a"),
            F.expr("doc_b DIV 8").alias("wid_b"),
            F.expr("doc_a % 8").alias("nw_a"),
            F.expr("doc_b % 8").alias("nw_b"),
        )
        .filter(F.col("clip_a") < F.col("clip_b"))
        .groupBy("clip_a", "clip_b")
        .agg(
            F.countDistinct("wid_a").cast("long").alias("n_matched_a"),
            F.countDistinct("wid_b").cast("long").alias("n_matched_b"),
            F.max("nw_a").cast("long").alias("n_win_a"),
            F.max("nw_b").cast("long").alias("n_win_b"),
        )
    )
    return ag.filter(
        (2 * F.col("n_matched_a") >= F.col("n_win_a"))
        & (2 * F.col("n_matched_b") >= F.col("n_win_b"))
    ).select(
        "clip_a", "clip_b", "n_win_a", "n_win_b",
        "n_matched_a", "n_matched_b",
    )
