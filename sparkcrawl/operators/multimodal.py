"""Multimodal column plumbing — opaque binary payloads + typed metadata.

Media assets referenced by interleaved spans (media_ref) are treated as
opaque ``binary`` columns with typed metadata, processed via Arrow-
batched ``mapInPandas``. The image/audio decode libraries are NOT in
this container, so the decode kernels are STUBS behind
``SPARKCRAWL_FAKE_DECODE`` (deterministic fake) /
``NotImplementedError`` — the Spark-side plumbing (schema, batching,
partitioning, UDF signatures) is real and tested.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sparkcrawl.operators.sampling import _bucketed_prefix_sum, _hash_buckets

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("media_type", T.StringType(), True),  # image|audio|video
        T.StructField("n_bytes", T.LongType(), True),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("media_type", T.StringType(), True),
        T.StructField("n_bytes", T.LongType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("feature", T.ArrayType(T.FloatType()), True),
    ]
)


def media_table_from_spans(docs_spans: DataFrame) -> DataFrame:
    """Distinct media refs from interleaved documents, with a synthetic
    deterministic payload (sandbox stand-in for the blob fetch)."""
    refs = (
        docs_spans.select(F.explode("spans").alias("s"))
        .filter(F.col("s.kind") == "media")
        .select(F.col("s.media_ref").alias("media_ref"))
        .distinct()
    )
    return refs.select(
        "media_ref",
        F.encode(F.col("media_ref"), "UTF-8").alias("payload"),
        F.when(F.col("media_ref").rlike(r"\.(png|jpg|gif)$"), "image")
        .when(F.col("media_ref").rlike(r"\.(mp3|wav)$"), "audio")
        .when(F.col("media_ref").rlike(r"\.(mp4|webm)$"), "video")
        .otherwise("unknown")
        .alias("media_type"),
        F.length(F.encode(F.col("media_ref"), "UTF-8")).cast("long").alias("n_bytes"),
    )


def media_ref_rollup(
    docs_spans: DataFrame, id_col: str = "doc_id", spans_col: str = "spans"
) -> DataFrame:
    """Media-seen rollup over interleaved documents (the input_hint
    span schema): per ``media_ref``, how many documents reference it,
    how many times, and the first (min-id) referencing document — the
    crawler's media dedup table: every object is fetched ONCE no
    matter how many pages embed it (site logos, shared CDN images are
    the overwhelmingly common case in a real crawl).

    Plan: ``filter`` the span array to media INSIDE codegen before the
    explode (text spans never leave the row), then one hash agg keyed
    by media_ref with map-side combine. count_distinct expands to the
    standard two-level partial agg.
    """
    media = docs_spans.select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.filter(spans_col, lambda s: s["kind"] == F.lit("media"))
        ).alias("s"),
    ).select("doc_id", F.col("s.media_ref").alias("media_ref"))
    return media.groupBy("media_ref").agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.count("*").alias("n_refs"),
        F.min("doc_id").alias("first_doc"),
    )


def span_layout_stats(
    docs_spans: DataFrame, id_col: str = "doc_id", spans_col: str = "spans"
) -> DataFrame:
    """Per-document interleave layout stats — entirely higher-order
    array functions inside whole-stage codegen; the span arrays are
    never exploded and nothing shuffles (it's a projection):

    - ``n_text`` / ``n_media``     — span counts by kind
    - ``text_chars``               — total text payload length
    - ``media_lead``               — first span is media (lead-image
                                     layout, a quality/template signal)
    - ``first_media_offset``       — offset of the first media span
                                     (NULL for text-only docs)
    """
    spans = F.col(spans_col)
    text_spans = F.filter(spans, lambda s: s["kind"] == F.lit("text"))
    media_spans = F.filter(spans, lambda s: s["kind"] == F.lit("media"))
    return docs_spans.select(
        F.col(id_col).alias("doc_id"),
        F.size(text_spans).alias("n_text"),
        F.size(media_spans).alias("n_media"),
        F.aggregate(
            text_spans,
            F.lit(0).cast("bigint"),
            lambda acc, s: acc + F.length(s["text"]),
        ).alias("text_chars"),
        # try_element_at: empty arrays (text-only docs, empty docs)
        # yield NULL instead of an ANSI index error
        (F.try_element_at(spans, F.lit(1))["kind"] == F.lit("media")).alias(
            "media_lead"
        ),
        F.try_element_at(media_spans, F.lit(1))["offset"].alias(
            "first_media_offset"
        ),
    )


def media_caption_pairs(
    docs_spans: DataFrame,
    id_col: str = "doc_id",
    spans_col: str = "spans",
    max_distance: int = 1,
) -> DataFrame:
    """(media, caption-text) pairs from interleaved documents — the
    CLIP-style pair-mining primitive: each media span is matched with
    the nearest non-empty text span within ``max_distance`` positions,
    PREFERRING the following span (HTML captions — figcaption, alt
    blocks — conventionally follow the image; the preceding span is
    the fallback).

    Output: (doc_id, media_ref, media_offset, caption, caption_offset,
    caption_side 'after'|'before'). Media spans with no text neighbor
    in range produce no row.

    Plan shape: only MEDIA spans explode (filter inside codegen first —
    text spans never leave the row); the neighbor search is a
    higher-order ``filter`` over the row's own span array referencing
    the exploded span's offset, so pairing needs NO self-join and NO
    shuffle — it's a projection, safe at any corpus size. Span arrays
    are offset-ordered by construction (C5: offset == position), which
    ``element_at(…, 1/-1)`` relies on for nearest-first/last.
    """
    text_lit = F.lit("text")
    m = docs_spans.select(
        F.col(id_col).alias("doc_id"),
        F.col(spans_col).alias("_spans"),
        F.explode(
            F.filter(spans_col, lambda s: s["kind"] == F.lit("media"))
        ).alias("m"),
    )
    o = F.col("m")["offset"]

    def _text_near(lo, hi):
        return F.filter(
            F.col("_spans"),
            lambda s: (s["kind"] == text_lit) & (s["text"] != F.lit(""))
            & (s["offset"] >= lo) & (s["offset"] <= hi),
        )

    after = F.try_element_at(_text_near(o + 1, o + max_distance), F.lit(1))
    before = F.try_element_at(_text_near(o - max_distance, o - 1), F.lit(-1))
    chosen = F.coalesce(after, before)
    return (
        m.select(
            "doc_id",
            F.col("m")["media_ref"].alias("media_ref"),
            o.alias("media_offset"),
            chosen["text"].alias("caption"),
            chosen["offset"].alias("caption_offset"),
            F.when(after.isNotNull(), F.lit("after"))
            .when(before.isNotNull(), F.lit("before"))
            .alias("caption_side"),
        )
        .filter(F.col("caption").isNotNull())
    )


def sniff_mime(payload: F.Column) -> F.Column:
    """Content-type from leading magic bytes — pure column expression.

    A crawl cannot trust Content-Type headers (servers lie; the
    reference's C6 charset detection exists for the same reason), so
    the sink sniffs the payload itself. Everything runs JVM-side on a
    hex prefix of the binary column: whole-stage codegen, no UDF —
    and the hex-string comparisons port verbatim to the DuckDB oracle.
    """
    p = F.hex(F.substring(payload, 1, 12))  # 24 hex chars
    ftyp = F.hex(F.substring(payload, 5, 4))
    riff_kind = F.hex(F.substring(payload, 9, 4))
    return (
        F.when(p.startswith("89504E470D0A1A0A"), "image/png")
        .when(p.startswith("FFD8FF"), "image/jpeg")
        .when(p.startswith("474946383761") | p.startswith("474946383961"), "image/gif")
        .when(p.startswith("25504446"), "application/pdf")
        .when(p.startswith("1F8B"), "application/gzip")
        .when(p.startswith("52494646") & (riff_kind == "57454250"), "image/webp")
        .when(p.startswith("52494646") & (riff_kind == "57415645"), "audio/wav")
        .when(p.startswith("494433"), "audio/mpeg")
        .when(p.startswith("1A45DFA3"), "video/webm")
        .when(ftyp == "66747970", "video/mp4")  # ISO-BMFF: 'ftyp' at offset 4
        .when(
            p.startswith("3C21444F") | p.startswith("3C68746D") | p.startswith("3C48544D"),
            "text/html",  # '<!DO', '<htm', '<HTM'
        )
        .otherwise("application/octet-stream")
    )


def _fake_decode(payload: bytes) -> tuple[int, int, list[float]]:
    """Deterministic fake decode: 8-dim feature from the payload digest.
    Oracle mode — DuckDB reproduces it from md5 (__spark_entry__)."""
    d = hashlib.md5(payload or b"").digest()
    width = 16 + d[0] % 64
    height = 16 + d[1] % 64
    feature = [b / 255.0 for b in d[:8]]
    return width, height, feature


_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"


def parse_png_ihdr(payload: bytes) -> tuple[int, int] | None:
    """(width, height) from a PNG IHDR chunk, or None if not a PNG.

    Pure byte parsing — the PNG header layout is fixed: 8-byte
    signature, 4-byte chunk length, 'IHDR', then width/height as
    big-endian uint32 (bytes 16..24). No image library needed."""
    import struct

    if not payload or len(payload) < 24 or not payload.startswith(_PNG_MAGIC):
        return None
    if payload[12:16] != b"IHDR":
        return None
    width, height = struct.unpack(">II", payload[16:24])
    return width, height


def parse_gif_header(payload: bytes) -> tuple[int, int] | None:
    """(width, height) from a GIF logical-screen descriptor, or None.

    GIF87a/GIF89a: 6-byte signature, then canvas width/height as
    little-endian uint16 at bytes 6..10. Pure byte parsing."""
    import struct

    if not payload or len(payload) < 10:
        return None
    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        return None
    width, height = struct.unpack("<HH", payload[6:10])
    return width, height


def parse_bmp_header(payload: bytes) -> tuple[int, int] | None:
    """(width, height) from a BMP BITMAPINFOHEADER, or None.

    'BM' magic; with the standard 40-byte info header, width/height are
    little-endian int32 at offsets 18/22 (height may be negative for
    top-down rows — abs() is the pixel count). Pure byte parsing."""
    import struct

    if not payload or len(payload) < 26 or payload[:2] != b"BM":
        return None
    width, height = struct.unpack("<ii", payload[18:26])
    return abs(width), abs(height)


def parse_jpeg_sof(payload: bytes) -> tuple[int, int] | None:
    """(width, height) from a JPEG Start-of-Frame marker, or None.

    Marker scan per ITU-T T.81: after the FFD8 SOI, each segment is
    FF <marker> <len:uint16 big-endian, includes itself>. Dimensions
    live in the SOF segments (baseline SOF0 0xC0 through SOF15 0xCF,
    EXCLUDING DHT 0xC4, JPG-extension 0xC8 and DAC 0xCC): height then
    width as big-endian uint16 at payload offsets 3..7. Standalone
    markers (RST 0xD0-0xD7, TEM 0x01) carry no length; fill bytes
    (repeated 0xFF) are skipped; the scan stops at SOS (0xDA — after
    it comes entropy-coded data) or EOI. Pure byte parsing, like the
    PNG/GIF/BMP kernels — no image library."""
    import struct

    if not payload or len(payload) < 4 or payload[:2] != b"\xff\xd8":
        return None
    i = 2
    n = len(payload)
    while i + 3 < n:
        if payload[i] != 0xFF:
            return None  # lost sync: not a well-formed segment stream
        while i < n and payload[i] == 0xFF:  # fill bytes
            i += 1
        if i >= n:
            return None
        marker = payload[i]
        i += 1
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            continue  # standalone markers: no length field
        if marker == 0xD9 or marker == 0xDA:
            return None  # EOI / SOS before any SOF: no dims found
        if i + 2 > n:
            return None
        (seg_len,) = struct.unpack(">H", payload[i:i + 2])
        if seg_len < 2:
            return None
        if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
            if i + 7 > n:
                return None
            height, width = struct.unpack(">HH", payload[i + 3:i + 7])
            return width, height
        i += seg_len
    return None


def _real_decode(payload: bytes) -> tuple[int, int, list[float]]:
    """Real header kernels (PNG IHDR, JPEG SOF scan, GIF screen
    descriptor, BMP info header) + an 8-bin normalized byte histogram
    as the feature (a genuine payload statistic, no external libs).
    Formats that need a full decoder (webp/video) still raise —
    guarded seam until PIL/libav exist in the runtime."""
    dims = (parse_png_ihdr(payload) or parse_jpeg_sof(payload)
            or parse_gif_header(payload) or parse_bmp_header(payload))
    if dims is None:
        raise NotImplementedError(
            "real decode implemented for PNG/JPEG/GIF/BMP headers only; other "
            "formats need PIL/libav, absent in this container"
        )
    n = len(payload)
    hist = [0] * 8
    for b in payload:
        hist[b >> 5] += 1
    return dims[0], dims[1], [c / n for c in hist]


def decode_and_featurize(media: DataFrame, fake: bool = True) -> DataFrame:
    """Decode payloads -> (dims, feature vector) via Arrow-batched
    mapInPandas. ``fake=True`` (default) is the deterministic oracle
    kernel; ``fake=False`` runs the real PNG-header kernel and raises
    for formats that genuinely need external decoders."""

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        kernel = _fake_decode if fake else _real_decode
        for pdf in batches:
            dims = [kernel(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "media_ref": pdf["media_ref"],
                    "media_type": pdf["media_type"],
                    "n_bytes": pdf["n_bytes"],
                    "width": [d[0] for d in dims],
                    "height": [d[1] for d in dims],
                    "feature": [d[2] for d in dims],
                }
            )

    return media.mapInPandas(_decode, schema=FEATURE_SCHEMA)


def frame_sample_stub(media: DataFrame, every_n: int = 10) -> DataFrame:
    """Video frame-sampling plumbing: emits (media_ref, frame_idx) rows
    for a deterministic fake frame count derived from n_bytes."""
    return (
        media.filter(F.col("media_type") == "video")
        .withColumn("n_frames", (F.col("n_bytes") % 100 + 1).cast("int"))
        .select(
            "media_ref",
            F.explode(
                F.sequence(F.lit(0), F.col("n_frames") - 1, F.lit(every_n))
            ).alias("frame_idx"),
        )
    )


def pack_multimodal_sequences(
    docs_spans: DataFrame,
    seq_len: int,
    media_token_cost: int = 64,
    id_col: str = "doc_id",
    salt: str = "shard-v1",
    n_buckets: int = 256,
) -> DataFrame:
    """Sequence packing for INTERLEAVED text+media documents — the
    multimodal analog of ``sampling.pack_token_sequences``: lay every
    document's spans out back-to-back (document order = deterministic
    salted hash, span order = array position) and cut the stream every
    ``seq_len`` tokens. Text spans cost their whitespace-token count
    and MAY split across example boundaries (token-level cut, zero
    padding); media spans cost a fixed ``media_token_cost`` and are
    ATOMIC — a media span that would straddle a boundary is DROPPED
    from packing (``example_id`` NULL, ``dropped`` true), leaving a
    hole the loader pads. Positions are computed on the UNSHIFTED
    layout, so the drop policy is a deterministic one-pass rule — no
    sequential re-flow, which is what keeps the operator relational
    (the shift-to-next-boundary variant is an inherently serial scan).

    One output row per (span, example) piece:
      (doc_id, span_idx, kind, media_ref, example_id, span_offset,
       piece_len, dropped)

    Plan at scale: spans are exploded once (posexplode, codegen); the
    global start position is the SAME two-phase distributed prefix sum
    as token_balanced_shards (``sampling._bucketed_prefix_sum``) —
    per-bucket totals (hash agg over ``n_buckets`` rows) + a window
    over the bounded aggregate, broadcast back, then a per-bucket
    running sum ordered by (hash, doc, span_idx). Bucketing uses a
    PREFIX of the document hash, so a document's spans stay contiguous
    in the global order.
    Piece rows are pure per-row arithmetic (explode(sequence(...))) —
    no further shuffle. Associativity of + pins the decomposition to
    the single-global-window oracle.
    """
    spans = docs_spans.select(
        F.col(id_col),
        *_hash_buckets(id_col, salt, n_buckets),
        F.posexplode("spans").alias("span_idx", "_s"),
    ).select(
        id_col,
        "_h",
        "_bucket",
        "span_idx",
        F.col("_s.kind").alias("kind"),
        F.col("_s.media_ref").alias("media_ref"),
        F.when(F.col("_s.kind") == "media", F.lit(media_token_cost))
        .otherwise(F.size(F.split(F.col("_s.text"), " ")))
        .cast("bigint")
        .alias("n_tokens"),
    ).filter(F.col("n_tokens") > 0)
    pos, end = _bucketed_prefix_sum(spans, id_col, "span_idx")
    pos = (
        pos.withColumn("_end", end.cast("bigint"))
        .withColumn("start", (F.col("_end") - F.col("n_tokens")).cast("bigint"))
    )
    first_ex = F.floor(F.col("start") / F.lit(seq_len)).cast("bigint")
    last_ex = F.floor((F.col("_end") - 1) / F.lit(seq_len)).cast("bigint")
    atomic_dropped = (F.col("kind") == "media") & (first_ex != last_ex)
    # dropped media: single row, NULL example; everything else explodes
    # into its (span, example) pieces — for media first_ex == last_ex so
    # the sequence is a single element
    pieces = pos.withColumn("dropped", atomic_dropped).withColumn(
        "example_id",
        F.explode(
            F.when(atomic_dropped, F.array(F.lit(None).cast("bigint")))
            .otherwise(F.sequence(first_ex, last_ex).cast("array<bigint>"))
        ),
    )
    ex_lo = F.col("example_id") * F.lit(seq_len)
    ex_hi = ex_lo + F.lit(seq_len)
    p_start = F.greatest(F.col("start"), ex_lo)
    p_end = F.least(F.col("_end"), ex_hi)
    return pieces.select(
        id_col,
        "span_idx",
        "kind",
        "media_ref",
        "example_id",
        F.when(F.col("dropped"), F.lit(0))
        .otherwise(p_start - F.col("start"))
        .cast("bigint")
        .alias("span_offset"),
        F.when(F.col("dropped"), F.col("n_tokens"))
        .otherwise(p_end - p_start)
        .cast("bigint")
        .alias("piece_len"),
        "dropped",
    )


MAIN_CONTENT_STOPWORDS = (
    "the", "a", "an", "and", "of", "to", "in", "is", "on", "for",
)


def main_content_spans(
    docs_spans: DataFrame,
    min_words: int = 5,
    min_stop_ratio: float = 0.05,
    stopwords: tuple[str, ...] = MAIN_CONTENT_STOPWORDS,
    id_col: str = "doc_id",
    spans_col: str = "spans",
) -> DataFrame:
    """Boilerplate-vs-content classification of interleaved spans —
    (doc_id, span_offset, kind, n_words, stop_ratio, keep).

    The two strongest cheap signals from the boilerplate-removal
    literature, applied per span: text-block LENGTH (Kohlschütter et
    al., WSDM 2010 — boilerpipe's densitometry: navigation chrome is
    short) and STOPWORD DENSITY (Pomikálek 2011 — jusText: real prose
    is full of function words; menus, breadcrumbs, and keyword-stuffed
    blocks are not). A text span is content iff it has >= ``min_words``
    tokens AND a stopword ratio >= ``min_stop_ratio``; media spans are
    always kept (their keep/drop is the caption/near-dup pipelines'
    decision, not a prose-density one).

    Plan shape: one posexplode-free explode of the span array + pure
    higher-order/array codegen per span (the tokenization is a
    split+filter on the span's own text) — no UDF, no shuffle, no join;
    downstream reassembly composes exactly like pack_multimodal_
    sequences' span stream.
    """
    s = docs_spans.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.col(spans_col)).alias("s"),
    ).select(
        "doc_id",
        F.col("s.offset").cast("long").alias("span_offset"),
        F.col("s.kind").alias("kind"),
        F.col("s.text").alias("_t"),
    )
    words = F.filter(F.split(F.lower(F.col("_t")), r"\s+"),
                     lambda x: x != "")
    stop_arr = F.array(*[F.lit(w) for w in stopwords])
    n_words = F.size(words).cast("long")
    stop_hits = F.size(F.filter(words, lambda x: F.array_contains(
        stop_arr, x)))
    ratio = F.round(stop_hits / F.greatest(n_words, F.lit(1)), 6)
    keep = (F.col("kind") == "media") | (
        (n_words >= min_words) & (ratio >= float(min_stop_ratio)))
    return s.select(
        "doc_id", "span_offset", "kind",
        n_words.alias("n_words"),
        ratio.alias("stop_ratio"),
        keep.alias("keep"),
    )


def caption_coverage(
    docs_spans: DataFrame,
    id_col: str = "doc_id",
    spans_col: str = "spans",
    max_distance: int = 1,
) -> DataFrame:
    """Per-document media-caption alignment coverage: how many of the
    document's media spans have a non-empty text neighbor within
    ``max_distance`` positions — the share of the doc's media that
    :func:`media_caption_pairs` (same neighbor predicate) would pair.
    Multimodal training builds filter or weight documents on this
    (poorly captioned pages make bad CLIP-style pairs).

    Output: (doc_id, n_media, n_captioned, coverage); docs with no
    media spans report n_media = 0 and NULL coverage.

    Plan shape: strictly cheaper than the pair miner — nothing
    explodes at all. Both counts are nested higher-order functions
    over the row's OWN span array (``size(filter(...))`` with an
    inner ``exists`` for the neighbor test), so the whole operator is
    a single codegen projection: no join, no shuffle, no Generate,
    safe at any corpus size and any media density.
    """
    spans = F.col(spans_col)
    text_lit = F.lit("text")

    def _captioned(s):
        return F.exists(
            spans,
            lambda t: (t["kind"] == text_lit)
            & (t["text"] != F.lit(""))
            & (t["offset"] >= s["offset"] - max_distance)
            & (t["offset"] <= s["offset"] + max_distance),
        )

    n_media = F.size(F.filter(spans, lambda s: s["kind"] == F.lit("media")))
    n_cap = F.size(
        F.filter(
            spans,
            lambda s: (s["kind"] == F.lit("media")) & _captioned(s),
        )
    )
    return docs_spans.select(
        F.col(id_col).alias("doc_id"),
        n_media.cast("bigint").alias("n_media"),
        n_cap.cast("bigint").alias("n_captioned"),
        F.when(
            n_media > 0, F.round(n_cap / n_media, 6)
        ).alias("coverage"),
    )

def span_sequence_audit(
    docs_spans: DataFrame,
    id_col: str = "doc_id",
    spans_col: str = "spans",
    kinds: tuple[str, ...] = ("text", "media"),
) -> DataFrame:
    """Per-document integrity audit of the interleaved-span invariant
    (the input contract: ``spans: array<struct<kind,text,media_ref,
    offset>>`` where ``offset`` defines a total order, ``kind`` names
    the payload, and exactly the matching payload column is set).

    Checks, per document:

    - ``offsets_strictly_increasing`` — duplicate or out-of-order
      offsets make the span ORDER ambiguous, which breaks the
      row-for-row (kind, text, media_ref, order) parity contract.
    - ``kinds_valid``        — every span's kind is in ``kinds``.
    - ``payloads_consistent``— text spans carry ``text`` and a NULL
      ``media_ref``; media spans carry ``media_ref`` and NULL
      ``text``; unknown kinds are never payload-consistent.
    - ``n_bad_spans``        — spans failing kind OR payload checks.
    - ``ok``                 — the document satisfies the contract.

    An ingest gate runs this before appending parsed documents to the
    corpus table; violations route to a quarantine sink instead of
    poisoning downstream span consumers (packing, caption mining,
    parity checks all assume the invariant).

    Plan shape: every check is a nested higher-order function over the
    row's own span array — one codegen projection, no explode, no
    join, no shuffle; safe at any corpus size.
    """
    spans = F.col(spans_col)
    offsets = F.transform(spans, lambda s: s["offset"])
    increasing = F.aggregate(
        offsets,
        F.struct(
            F.lit(None).cast("int").alias("prev"), F.lit(True).alias("ok")
        ),
        lambda acc, o: F.struct(
            o.alias("prev"),
            (acc["ok"] & (acc["prev"].isNull() | (o > acc["prev"]))).alias(
                "ok"
            ),
        ),
        lambda acc: acc["ok"],
    )

    def _kind_ok(s):
        return s["kind"].isin(*kinds)

    def _payload_ok(s):
        return (
            F.when(
                s["kind"] == F.lit("text"),
                s["text"].isNotNull() & s["media_ref"].isNull(),
            )
            .when(
                s["kind"] == F.lit("media"),
                s["media_ref"].isNotNull() & s["text"].isNull(),
            )
            .otherwise(F.lit(False))
        )

    n_bad = F.size(
        F.filter(spans, lambda s: ~(_kind_ok(s) & _payload_ok(s)))
    )
    return docs_spans.select(
        F.col(id_col).alias("doc_id"),
        F.size(spans).cast("bigint").alias("n_spans"),
        increasing.alias("offsets_strictly_increasing"),
        (~F.exists(spans, lambda s: ~_kind_ok(s))).alias("kinds_valid"),
        (~F.exists(spans, lambda s: ~_payload_ok(s))).alias(
            "payloads_consistent"
        ),
        n_bad.cast("bigint").alias("n_bad_spans"),
        (increasing & (n_bad == 0)).alias("ok"),
    )


def span_parity(
    mine: DataFrame,
    ref: DataFrame,
    id_col: str = "doc_id",
    spans_col: str = "spans",
) -> DataFrame:
    """Row-for-row span-sequence parity between two extractions: the
    per-row invariant is (kind, text, media_ref, order) tuple equality
    in offset order — the acceptance check a reimplemented extractor
    runs against the incumbent's output table before cutover, and the
    regression diff run between two engine versions over the same
    fetch batch.

    Output, per document present on either side:

    - ``n_mine`` / ``n_ref``     — span counts (NULL for the absent
      side).
    - ``first_mismatch_idx``     — 1-based index of the first span
      whose (kind, text, media_ref) differs after sorting both sides
      by offset; 0 when the sequences agree end-to-end; NULL when a
      side is missing entirely. A length mismatch surfaces at the
      first unmatched position.
    - ``status``                 — match | mismatch | missing_mine |
      missing_ref.
    - ``equal``                  — status == 'match'.

    Plan shape: ONE full-outer equi-join on the document id (the only
    shuffle, co-partitioned on the natural key both tables share);
    the span comparison itself never explodes — both arrays are
    sorted and zipped with higher-order functions inside the
    projection, so per-doc work is bounded by that doc's own span
    count and a hot document cannot skew the comparison.
    """
    by_offset = lambda x, y: (
        F.when(x["offset"] < y["offset"], -1)
        .when(x["offset"] > y["offset"], 1)
        .otherwise(0)
    )
    a = mine.select(
        F.col(id_col).alias("doc_id"),
        F.array_sort(F.col(spans_col), by_offset).alias("_a"),
    )
    b = ref.select(
        F.col(id_col).alias("doc_id"),
        F.array_sort(F.col(spans_col), by_offset).alias("_b"),
    )
    joined = a.join(b, "doc_id", "full_outer")
    # zip_with pads the shorter array with NULL structs; NULL.kind
    # never null-safe-equals a real kind, so length mismatches fail
    # at the first unmatched index with no special-casing.
    eq = F.zip_with(
        F.col("_a"),
        F.col("_b"),
        lambda x, y: x["kind"].eqNullSafe(y["kind"])
        & x["text"].eqNullSafe(y["text"])
        & x["media_ref"].eqNullSafe(y["media_ref"]),
    )
    first_bad = F.array_position(eq, False)
    status = (
        F.when(F.col("_a").isNull(), F.lit("missing_mine"))
        .when(F.col("_b").isNull(), F.lit("missing_ref"))
        .when(first_bad == 0, F.lit("match"))
        .otherwise(F.lit("mismatch"))
    )
    return joined.select(
        "doc_id",
        F.when(F.col("_a").isNotNull(), F.size("_a"))
        .cast("int")
        .alias("n_mine"),
        F.when(F.col("_b").isNotNull(), F.size("_b"))
        .cast("int")
        .alias("n_ref"),
        F.when(
            F.col("_a").isNotNull() & F.col("_b").isNotNull(), first_bad
        )
        .cast("bigint")
        .alias("first_mismatch_idx"),
        status.alias("status"),
        (status == F.lit("match")).alias("equal"),
    )


def media_position_profile(docs_spans: DataFrame, n_bins: int = 10,
                           spans_col: str = "spans") -> DataFrame:
    """Where does media sit inside interleaved documents? Corpus-level
    profile of span positions: each span's relative position (array
    index / span count) lands in one of ``n_bins`` bins; per bin,
    total spans, media spans, and the media share. Front-loaded media
    (hero images) vs trailing media (galleries, related-content
    footers) changes what a fixed-length packing/truncation pass
    (pack_multimodal_sequences) silently drops — this is the readout
    that says WHERE the loss would land before choosing a sequence
    budget.

    One posexplode over the spans array + one ``n_bins``-cardinality
    hash agg; the bin is integer floor arithmetic over (index, size)
    — no UDF, no window, no join.
    """
    rows = docs_spans.select(
        F.size(spans_col).alias("n"),
        F.posexplode(spans_col).alias("pos", "s"),
    ).filter(F.col("n") > 0)
    bin_ = F.floor(F.col("pos") * n_bins / F.col("n")).cast("int")
    is_media = F.col("s")["kind"] != "text"
    t, m = F.count(F.lit(1)), F.count_if(is_media)
    return rows.groupBy(bin_.alias("bin")).agg(
        t.alias("n_spans"),
        m.alias("n_media"),
        F.round(m / t, 6).alias("media_share"),
    )


def content_type_mismatch(
    responses: DataFrame,
    payload_col: str = "payload",
    declared_col: str = "content_type",
    id_col: str = "url",
) -> DataFrame:
    """Declared-vs-sniffed content-type audit: servers lie about
    Content-Type (the reason :func:`sniff_mime` exists), and the
    mismatch TABLE is itself a routing signal — an 'image/png' that
    sniffs as text/html is an error lander or a hotlink blocker, a
    'text/html' that sniffs as PDF needs the document lane, and a
    host-level mismatch cluster marks a misconfigured origin.

    Per row: (id, declared normalized to its bare media type —
    parameters and case stripped, NULL -> '' , sniffed, ``match`` =
    declared equals sniffed or declared is empty, ``severity``:
    'agree' | 'undeclared' | 'refines' (sniff says octet-stream — no
    evidence against the header) | 'conflict'). One codegen
    projection on the hex prefix; no UDF, no shuffle.
    """
    declared = F.lower(F.trim(
        F.substring_index(F.coalesce(F.col(declared_col), F.lit("")),
                          ";", 1)))
    sniffed = sniff_mime(F.col(payload_col))
    agree = declared == sniffed
    sev = (
        F.when(agree, F.lit("agree"))
        .when(declared == "", F.lit("undeclared"))
        .when(sniffed == "application/octet-stream", F.lit("refines"))
        .otherwise(F.lit("conflict"))
    )
    return responses.select(
        F.col(id_col).alias("id"),
        declared.alias("declared"),
        sniffed.alias("sniffed"),
        (agree | (declared == "")).alias("match"),
        sev.alias("severity"),
    )
