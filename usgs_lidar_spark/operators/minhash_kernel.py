"""Arrow-vectorized MinHash banding + inline exact-Jaccard decon kernel
(optimization round 16, guide §4.2 / §8).

The expression-form MinHash pipeline (`dedup.char_shingles` →
`_minhash_band_long`) pays, per run: an explode to one row per
(doc, shingle) STRING, a distinct shuffle of those strings, a 64-column
xxhash64 aggregate, a band explode, and — for verification — a
pairs x shingles equi-join that inflates every document to ~k times its
byte size (a 300-byte doc becomes ~290 (id, 8-char shingle) rows
≈ 4.6 KB each). These kernels compute the same stages map-side, inside
the scan, with NO shuffle of shingles at all.

Exactness contract — this module is NOT a different algorithm, it is
the same one evaluated in NumPy:

  * The per-shingle hash is Spark's `xxhash64` REPRODUCED BIT FOR BIT
    (`_XXH64` vectorized below; parity pinned by
    `test_minhash_band_table_matches_expression_form`): signature i is
    ``min over shingles of xxhash64(shingle, i)`` with the same signed
    64-bit min, and the band key is ``xxhash64(mh_{rb}, .., mh_{rb+r-1})``
    with the same seed-chaining — so the (id, band, h) band table equals
    `_minhash_band_long(char_shingles(df, max_df=None))` EXACTLY, row
    for row, and every candidate set downstream is unchanged.
  * Verification counts are EXACT distinct-shingle set operations: for
    ASCII text each k<=8-char shingle is encoded as its raw k bytes in
    a uint64 (INJECTIVE — set identity, zero collision risk); a
    document containing non-ASCII falls back to one blake2b-8 digest
    per shingle (2^-64-per-pair collision odds, documented).
  * jaccard = n_inter / (n_a + n_b - n_inter) is the same single IEEE
    double division the expression form and the DuckDB oracles perform.

Scale posture: `minhash_band_table` is map-only (band hashes ride the
scan; nothing shuffles until the caller's candidate join), and
`minhash_decon_inline` is the guide-§8 end state for cross-set decon —
the benchmark side (a few thousand eval docs by contract) is collected
once, banded in the driver, and broadcast; the corpus is scanned ONCE,
each task probing the broadcast band dict and exact-verifying its own
candidates, so the corpus never shuffles and the only exchange in the
whole query is the scale-adaptive round-robin spread that engages when
the scan has fewer splits than the cluster has slots (tiny inputs
only — at real scale the guard is false and the plan is pure map).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from usgs_lidar_spark.functions.spread import spread_for_kernel

#: XXH64 prime constants (public xxHash specification — the same values
#: in Spark's `XXH64.java`).
_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_SEED = 42  # Spark's fixed xxhash64 seed


def _np():
    import numpy as np

    return np


def _rotl(x, r):
    np = _np()
    r = np.uint64(r)
    return (x << r) | (x >> (np.uint64(64) - r))


def _fmix(h):
    np = _np()
    h = h ^ (h >> np.uint64(33))
    h = h * np.uint64(_P2)
    h = h ^ (h >> np.uint64(29))
    h = h * np.uint64(_P3)
    return h ^ (h >> np.uint64(32))


def _xxh64_long(v, seed):
    """Spark `XXH64.hashLong` — vectorized; `v`/`seed` uint64 or arrays.
    Also the hash of an 8-BYTE string (one full 8-byte block + fmix is
    the identical code path in XXH64), which is what makes the ASCII
    k=8 shingle fast path below exact."""
    np = _np()
    h = seed + np.uint64(_P5) + np.uint64(8)
    h = h ^ (_rotl(v * np.uint64(_P2), 31) * np.uint64(_P1))
    h = _rotl(h, 27) * np.uint64(_P1) + np.uint64(_P4)
    return _fmix(h)


def _xxh64_int(i, seed):
    """Spark `XXH64.hashInt` — the seed-chained tail a literal INT arg
    of `xxhash64(shingle, lit(i))` contributes."""
    np = _np()
    h = seed + np.uint64(_P5) + np.uint64(4)
    h = h ^ (np.uint64(i & 0xFFFFFFFF) * np.uint64(_P1))
    h = _rotl(h, 23) * np.uint64(_P2) + np.uint64(_P3)
    return _fmix(h)


def _xxh64_bytes(b: bytes, seed: int) -> int:
    """Spark `XXH64.hashUnsafeBytes` for arbitrary length — scalar
    fallback for non-ASCII shingles (UTF-8 length != k). numpy warns on
    SCALAR uint64 wraparound (arrays wrap silently), hence errstate."""
    np = _np()
    with np.errstate(over="ignore"):
        h = np.uint64(seed) + np.uint64(_P5) + np.uint64(len(b))
        i, n = 0, len(b)
        while n - i >= 8:
            k = np.frombuffer(b[i : i + 8], dtype="<u8")[0]
            h = h ^ (_rotl(k * np.uint64(_P2), 31) * np.uint64(_P1))
            h = _rotl(h, 27) * np.uint64(_P1) + np.uint64(_P4)
            i += 8
        if n - i >= 4:
            k = np.uint64(np.frombuffer(b[i : i + 4], dtype="<u4")[0])
            h = h ^ (k * np.uint64(_P1))
            h = _rotl(h, 23) * np.uint64(_P2) + np.uint64(_P3)
            i += 4
        while i < n:
            h = h ^ (np.uint64(b[i]) * np.uint64(_P5))
            h = _rotl(h, 11) * np.uint64(_P1)
            i += 1
        return int(_fmix(h))


def _doc_shingle_arrays(text: str, k: int):
    """One document's distinct char-k-shingle set as two aligned uint64
    arrays: (identity codes, sorted unique; xxhash64 base hashes).

    ASCII fast path: the identity code IS the raw k bytes (injective —
    exact set identity) and, for k == 8, the base hash is the
    vectorized `_xxh64_long` of that code. Non-ASCII (UTF-8 length !=
    char length) falls back to blake2b-8 identity + scalar xxh64 per
    distinct shingle. Returns empty arrays for docs shorter than k."""
    np = _np()
    n = len(text)
    if n < k:
        e = np.empty(0, dtype=np.uint64)
        return e, e
    raw = text.encode("utf-8")
    if len(raw) == n and k == 8:  # pure ASCII, 8-byte windows
        arr = np.frombuffer(raw, dtype=np.uint8)
        win = np.lib.stride_tricks.sliding_window_view(arr, k)
        codes = np.unique(np.ascontiguousarray(win).view(np.uint64).ravel())
        return codes, _xxh64_long(codes, np.uint64(_SEED))
    from hashlib import blake2b

    uniq = sorted({text[i : i + k] for i in range(n - k + 1)})
    ids = np.fromiter(
        (
            int.from_bytes(blake2b(s.encode("utf-8"), digest_size=8).digest(), "little")
            for s in uniq
        ),
        dtype=np.uint64,
        count=len(uniq),
    )
    order = np.argsort(ids)
    bases = np.fromiter(
        (_xxh64_bytes(s.encode("utf-8"), _SEED) & ((1 << 64) - 1) for s in uniq),
        dtype=np.uint64,
        count=len(uniq),
    )
    return ids[order], bases[order]


def _band_keys(bases_concat, starts, num_perm: int, bands: int):
    """(n_docs x bands) int64 band keys from the concatenated per-doc
    base-hash arrays — bit-identical to the expression form:
    sig_i = signed-min of xxhash64(shingle, i); band_b =
    xxhash64(sig_{b*r}, ..., sig_{b*r+r-1}) via seed chaining."""
    np = _np()
    rows_per_band = num_perm // bands
    n_docs = len(starts)
    # precompute the shared prefix of hashInt: seed + P5 + 4
    pre = bases_concat + np.uint64(_P5) + np.uint64(4)
    sig = np.empty((n_docs, num_perm), dtype=np.int64)
    for i in range(num_perm):
        h = pre ^ np.uint64((i * _P1) & ((1 << 64) - 1))
        h = _rotl(h, 23) * np.uint64(_P2) + np.uint64(_P3)
        h = _fmix(h)
        # Spark's min over LongType is SIGNED — compare the bit pattern
        # as int64, exactly as the 64-column agg does.
        sig[:, i] = np.minimum.reduceat(h.view(np.int64), starts)
    out = np.empty((n_docs, bands), dtype=np.int64)
    useed = np.uint64(_SEED)
    for b in range(bands):
        h = np.full(n_docs, useed, dtype=np.uint64)
        for r in range(rows_per_band):
            h = _xxh64_long(sig[:, b * rows_per_band + r].view(np.uint64), h)
        out[:, b] = h.view(np.int64)
    return out


def _drop_hot(codes, bases, hot):
    """Filter a doc's aligned (codes, bases) arrays to codes NOT in the
    sorted hot-shingle array — the df-cap exclusion (`char_shingles`
    max_df) applied kernel-side."""
    np = _np()
    if hot is None or hot.size == 0 or codes.size == 0:
        return codes, bases
    keep = ~np.isin(codes, hot, assume_unique=False)
    return codes[keep], bases[keep]


def shingle_codes_table(
    df: DataFrame, text_col: str, id_col: str, k: int = 8
) -> DataFrame:
    """One `code` (long) row per DISTINCT (document, shingle) — the
    map-only input to the document-frequency aggregate that computes
    the df cap's hot-shingle set: groupBy(code).count() == each
    shingle's df, because codes are emitted once per containing doc.
    Shuffles 8-byte codes with map-side partial aggregation instead of
    the expression form's (doc_id, 8-char string) exploded rows."""
    from pyspark.sql.types import LongType, StructField, StructType

    out_schema = StructType([StructField("code", LongType())])

    def kernel(batches):
        import numpy as np
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        arrow_out = to_arrow_schema(out_schema)
        for batch in batches:
            if batch.num_rows == 0:
                continue
            chunks = []
            for t in batch.column(0).to_pylist():
                if t is None:
                    continue
                codes, _bases = _doc_shingle_arrays(t, k)
                if codes.size:
                    chunks.append(codes)
            if not chunks:
                continue
            yield pa.RecordBatch.from_arrays(
                [pa.array(np.concatenate(chunks).view(np.int64), type=pa.int64())],
                schema=arrow_out,
            )

    c = df.select(F.col(text_col))
    c = spread_for_kernel(c)
    return c.mapInArrow(kernel, out_schema)


#: Largest total byte size one Arrow string array's int32 offsets hold.
_MAX_STRING_BYTES = 2**31 - 1


def _string_offsets(lens):
    """int32 Arrow string offsets over the per-string byte lengths
    ``lens``. Raises ValueError when the strings' total size does not
    fit int32 offsets, instead of letting the offsets wrap."""
    np = _np()
    offsets = np.zeros(lens.size + 1, dtype=np.int64)
    np.cumsum(lens, out=offsets[1:])
    if offsets[-1] > _MAX_STRING_BYTES:
        raise ValueError(
            f"shingle segment of {int(offsets[-1])} bytes exceeds the "
            f"{_MAX_STRING_BYTES}-byte limit of int32 string offsets"
        )
    return offsets.astype(np.int32)


def shingle_pairs_table(
    df: DataFrame, text_col: str, id_col: str, k: int = 8
) -> DataFrame:
    """Distinct (doc_id, shingle) STRING pairs — the exact row-for-row
    twin of `char_shingles`' array_distinct+explode expression, computed
    as one vectorized Arrow pass (optimization round 17, guide §4.2).

    Why: the expression form's ``transform(sequence(1, n-k+1), i ->
    substring(text, i, k))`` is an interpreted higher-order function (no
    codegen) AND each ``substring`` re-walks the string's UTF-8 bytes to
    locate codepoint ``i`` — O(len²) byte work per document. Measured at
    sf0.1: the map-only explode alone is 1.87 s of pipe_contamination's
    3.9 s wall. Here the ASCII fast path builds every shingle by
    RE-SLICING the batch's text buffer (a sliding uint8 window viewed as
    uint64 codes, `np.unique` for the per-doc distinct, and the output
    string column assembled from one bytes buffer + an offsets array —
    the §4.2 "new offsets over the same bytes" property), so per-doc
    cost is O(len·log len) with vectorized constants.

    Exactness: shingles are the REAL substring strings, not hashes —
    output rows are set-identical to the expression form for any input
    (ASCII windows == codepoint windows when the UTF-8 length equals the
    character length; non-ASCII documents take a per-doc Python
    ``text[i:i+k]`` fallback, the same codepoint slicing Spark's
    ``substring`` performs). Pinned by
    `test_shingle_pairs_table_matches_expression_form`. Use where the
    shingle frame is consumed ONCE per construction (decontamination,
    overlap matrix); the cached multi-consumer self-join paths keep the
    expression form, whose plan-equal frames hit the session cache
    (round-16 change 3's measurement)."""
    from pyspark.sql.types import StringType, StructField, StructType

    id_field = df.schema[id_col]
    out_schema = StructType(
        [
            StructField("doc_id", id_field.dataType),
            StructField("shingle", StringType()),
        ]
    )

    def kernel(batches):
        import numpy as np
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        arrow_out = to_arrow_schema(out_schema)
        # Flush segments well under Arrow's 2 GiB string-buffer cap; a
        # document that would push a segment past the int32 offsets
        # flushes the segment first (`_string_offsets` raises if the
        # document alone cannot fit).
        flush_bytes = 256 * 1024 * 1024

        for batch in batches:
            if batch.num_rows == 0:
                continue
            ids = batch.column(0)
            texts = batch.column(1)
            row_idx: list[int] = []
            counts: list[int] = []
            data_parts: list[bytes] = []
            len_parts: list = []
            pending = 0

            def flush():
                offsets = _string_offsets(np.concatenate(len_parts))
                shingles = pa.StringArray.from_buffers(
                    offsets.size - 1,
                    pa.py_buffer(offsets.tobytes()),
                    pa.py_buffer(b"".join(data_parts)),
                )
                id_out = ids.take(
                    pa.array(
                        np.repeat(
                            np.asarray(row_idx, dtype=np.int64),
                            np.asarray(counts, dtype=np.int64),
                        )
                    )
                )
                return pa.RecordBatch.from_arrays(
                    [id_out, shingles], schema=arrow_out
                )

            for row, t in enumerate(texts.to_pylist()):
                if t is None or len(t) < k:
                    continue
                raw = t.encode("utf-8")
                if len(raw) == len(t) and k == 8:
                    # ASCII, k == 8: byte windows == char windows and a
                    # window IS a uint64 — unique codes, bytes restored
                    # by tobytes() (same byte order the view read).
                    arr = np.frombuffer(raw, dtype=np.uint8)
                    win = np.lib.stride_tricks.sliding_window_view(arr, k)
                    codes = np.unique(
                        np.ascontiguousarray(win).view(np.uint64).ravel()
                    )
                    n = codes.size
                    blob = codes.tobytes()
                    lens = np.full(n, k, dtype=np.int64)
                else:
                    # generic fallback: exact codepoint slicing
                    uniq = sorted({t[i : i + k] for i in range(len(t) - k + 1)})
                    enc = [s.encode("utf-8") for s in uniq]
                    n = len(enc)
                    blob = b"".join(enc)
                    lens = np.fromiter(
                        (len(e) for e in enc), dtype=np.int64, count=n
                    )
                if counts and pending + len(blob) > _MAX_STRING_BYTES:
                    yield flush()
                    row_idx, counts, data_parts, len_parts = [], [], [], []
                    pending = 0
                data_parts.append(blob)
                len_parts.append(lens)
                pending += len(blob)
                row_idx.append(row)
                counts.append(n)
                if pending >= flush_bytes:
                    yield flush()
                    row_idx, counts, data_parts, len_parts = [], [], [], []
                    pending = 0
            if counts:
                yield flush()

    c = df.select(F.col(id_col), F.col(text_col))
    c = spread_for_kernel(c)
    return c.mapInArrow(kernel, out_schema)


def collect_hot_codes(df: DataFrame, text_col: str, id_col: str, k: int, max_df: int):
    """The df-cap's hot-shingle set as a broadcast sorted uint64 array:
    codes whose document frequency exceeds ``max_df``. One eager job
    (kernel scan + 8-byte-code aggregate + bounded collect — the hot
    set is a vanishing fraction of distinct shingles by construction:
    it IS the stop-shingle tail the cap exists to drop)."""
    np = _np()
    rows = (
        shingle_codes_table(df, text_col, id_col, k)
        .groupBy("code")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > max_df)
        .select("code")
        .collect()
    )
    hot = np.sort(np.array([r[0] for r in rows], dtype=np.int64).view(np.uint64))
    return df.sparkSession.sparkContext.broadcast(hot)


def minhash_band_table(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 8,
    num_perm: int = 64,
    bands: int = 32,
    exclude=None,
) -> DataFrame:
    """(id, band, h) long-form MinHash band hashes, computed map-only in
    one Arrow kernel pass over the (id, text) scan — row-for-row equal
    to ``_minhash_band_long(char_shingles(df, text, id, k,
    max_df=None), num_perm, bands)`` (pinned by plan/parity tests), but
    with no shingle explode, no distinct shuffle and no 64-column
    aggregate. Documents shorter than ``k`` produce no rows (no
    shingles → no signature), same as the expression form.

    ``exclude``: optional broadcast sorted-uint64 hot-code array
    (`collect_hot_codes`) — signatures are computed over the df-CAPPED
    shingle set, matching `char_shingles(max_df=...)`; a doc whose
    capped set is empty produces no rows (same as the expression
    form: no surviving shingles → no signature)."""
    if num_perm % bands:
        raise ValueError(f"num_perm={num_perm} not divisible by bands={bands}")
    from pyspark.sql.types import IntegerType, LongType, StructField, StructType

    id_type = df.schema[id_col].dataType
    out_schema = StructType(
        [
            StructField("doc_id", id_type),
            StructField("band", IntegerType()),
            StructField("h", LongType()),
        ]
    )

    def kernel(batches):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc
        from pyspark.sql.pandas.types import to_arrow_schema

        arrow_out = to_arrow_schema(out_schema)
        band_ids = np.arange(bands, dtype=np.int32)
        hot = exclude.value if exclude is not None else None
        for batch in batches:
            if batch.num_rows == 0:
                continue
            ids = batch.column(0)
            texts = batch.column(1).to_pylist()
            chunks, offs, keep_rows = [], [0], []
            for r, t in enumerate(texts):
                if t is None:
                    continue
                codes, bases = _doc_shingle_arrays(t, k)
                codes, bases = _drop_hot(codes, bases, hot)
                if bases.size == 0:
                    continue
                chunks.append(bases)
                offs.append(offs[-1] + bases.size)
                keep_rows.append(r)
            if not chunks:
                continue
            starts = np.array(offs[:-1], dtype=np.int64)
            bk = _band_keys(np.concatenate(chunks), starts, num_perm, bands)
            n_docs = len(keep_rows)
            out_ids = pc.take(ids, pa.array(np.repeat(keep_rows, bands), type=pa.int64()))
            yield pa.RecordBatch.from_arrays(
                [
                    out_ids,
                    pa.array(np.tile(band_ids, n_docs), type=pa.int32()),
                    pa.array(bk.reshape(-1), type=pa.int64()),
                ],
                schema=arrow_out,
            )

    c = df.select(F.col(id_col), F.col(text_col))
    c = spread_for_kernel(c)
    return c.mapInArrow(kernel, out_schema)


def minhash_decon_inline(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 8,
    num_perm: int = 64,
    bands: int = 32,
    threshold: float = 0.6,
) -> DataFrame:
    """`dedup.minhash_decon_pairs`, fused into ONE corpus scan (guide
    §8): collect the benchmark side (bounded — a few thousand eval docs
    by the operator's contract, the same budget its band-table
    broadcast already imposed), MinHash-band it in the driver, and
    broadcast (band dict + exact shingle sets). Each corpus task then
    bands its own documents with the IDENTICAL xxhash64 construction,
    probes the dict for candidates, and exact-verifies them in place —
    emitting (doc_id, bench_id, jaccard >= threshold) with zero corpus
    shuffle and zero shingle materialization.

    Candidates are bit-identical to the expression form's band
    equi-join (same band family, same keys), and verification is the
    same exact distinct-shingle set intersection, so the output matches
    the expression path row for row."""
    from pyspark.sql.types import DoubleType, StructField, StructType

    np = _np()
    bench_rows = benchmark.select(F.col(id_col), F.col(text_col)).collect()
    bench_ids, bench_sets, band_dict = [], [], {}
    chunks, offs = [], [0]
    for row in bench_rows:
        if row[1] is None:
            continue
        codes, bases = _doc_shingle_arrays(row[1], k)
        if codes.size == 0:
            continue
        bench_ids.append(row[0])
        bench_sets.append(codes)
        chunks.append(bases)
        offs.append(offs[-1] + bases.size)
    if chunks:
        bk = _band_keys(
            np.concatenate(chunks), np.array(offs[:-1], dtype=np.int64), num_perm, bands
        )
        for j in range(len(bench_ids)):
            for b in range(bands):
                band_dict.setdefault((b, int(bk[j, b])), []).append(j)
    sc = corpus.sparkSession.sparkContext
    bench_b = sc.broadcast((bench_ids, bench_sets, band_dict))

    corpus_id_type = corpus.schema[id_col].dataType
    bench_id_type = benchmark.schema[id_col].dataType
    out_schema = StructType(
        [
            StructField("doc_id", corpus_id_type),
            StructField("bench_id", bench_id_type),
            StructField("jaccard", DoubleType()),
        ]
    )
    thr = float(threshold)

    def kernel(batches):
        import numpy as np
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        arrow_out = to_arrow_schema(out_schema)
        b_ids, b_sets, b_dict = bench_b.value
        for batch in batches:
            if batch.num_rows == 0 or not b_dict:
                continue
            ids = batch.column(0).to_pylist()
            texts = batch.column(1).to_pylist()
            # shingle every doc, then ONE vectorized band-key pass for
            # the whole batch (per-doc numpy calls would dominate)
            doc_codes, chunks, offs, keep_rows = [], [], [0], []
            for r, t in enumerate(texts):
                if t is None:
                    continue
                codes, bases = _doc_shingle_arrays(t, k)
                if codes.size == 0:
                    continue
                doc_codes.append(codes)
                chunks.append(bases)
                offs.append(offs[-1] + bases.size)
                keep_rows.append(r)
            if not chunks:
                continue
            bk = _band_keys(
                np.concatenate(chunks),
                np.array(offs[:-1], dtype=np.int64),
                num_perm,
                bands,
            )
            o_doc, o_bench, o_jac = [], [], []
            for d, r in enumerate(keep_rows):
                cands: set = set()
                for b in range(bands):
                    hit = b_dict.get((b, int(bk[d, b])))
                    if hit:
                        cands.update(hit)
                if not cands:
                    continue
                codes = doc_codes[d]
                n_a = codes.size
                for j in sorted(cands):
                    sb = b_sets[j]
                    inter = int(
                        np.intersect1d(codes, sb, assume_unique=True).size
                    )
                    union = n_a + sb.size - inter
                    jac = float(inter) / float(union) if union else 0.0
                    if jac >= thr:
                        o_doc.append(ids[r])
                        o_bench.append(b_ids[j])
                        o_jac.append(jac)
            if o_doc:
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(o_doc, type=arrow_out.field(0).type),
                        pa.array(o_bench, type=arrow_out.field(1).type),
                        pa.array(o_jac, type=pa.float64()),
                    ],
                    schema=arrow_out,
                )

    c = corpus.select(F.col(id_col), F.col(text_col))
    c = spread_for_kernel(c)
    return c.mapInArrow(kernel, out_schema)


def jaccard_verify_pairs(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    text_a: str = "text_a",
    text_b: str = "text_b",
    k: int = 8,
    threshold: float | None = None,
    exclude=None,
) -> DataFrame:
    """Exact (optionally df-capped) shingle-set Jaccard per candidate
    pair, from the two raw texts: (id_a, id_b, jaccard), filtered to
    jaccard >= threshold inside the kernel. Counts are the same exact
    distinct-shingle set operations the expression form's verify joins
    compute (injective ASCII codes; `exclude` applies the hot-code df
    cap to both sides), and the division is the same IEEE double op —
    but the candidate texts move ONCE into the kernel instead of being
    re-exploded into ~k-times-their-size (id, shingle) join rows
    (guide §8: the raw text IS smaller than its exploded proxy).
    Per-batch memoization re-shingles each distinct doc once however
    many pairs it appears in."""
    from pyspark.sql.types import DoubleType, StructField, StructType

    a_type = pairs.schema[id_a].dataType
    b_type = pairs.schema[id_b].dataType
    out_schema = StructType(
        [
            StructField(id_a, a_type),
            StructField(id_b, b_type),
            StructField("jaccard", DoubleType()),
        ]
    )
    thr = None if threshold is None else float(threshold)

    def kernel(batches):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc
        from pyspark.sql.pandas.types import to_arrow_schema

        arrow_out = to_arrow_schema(out_schema)
        hot = exclude.value if exclude is not None else None
        for batch in batches:
            if batch.num_rows == 0:
                continue
            ia, ib = batch.column(0), batch.column(1)
            ta = batch.column(2).to_pylist()
            tb = batch.column(3).to_pylist()
            ia_py, ib_py = ia.to_pylist(), ib.to_pylist()
            memo: dict = {}

            def capped_codes(doc_key, txt):
                got = memo.get(doc_key)
                if got is None:
                    codes, bases = _doc_shingle_arrays(txt, k)
                    got, _ = _drop_hot(codes, bases, hot)
                    memo[doc_key] = got
                return got

            keep, jac = [], []
            for r in range(batch.num_rows):
                sa = capped_codes(("a", ia_py[r]), ta[r])
                sb = capped_codes(("b", ib_py[r]), tb[r])
                inter = int(np.intersect1d(sa, sb, assume_unique=True).size)
                union = int(sa.size) + int(sb.size) - inter
                j = float(inter) / float(union) if union else 0.0
                if thr is not None and not j >= thr:
                    continue
                keep.append(r)
                jac.append(j)
            if not keep:
                continue
            take = pa.array(keep, type=pa.int64())
            yield pa.RecordBatch.from_arrays(
                [
                    pc.take(ia, take),
                    pc.take(ib, take),
                    pa.array(jac, type=pa.float64()),
                ],
                schema=arrow_out,
            )

    cols = pairs.select(F.col(id_a), F.col(id_b), F.col(text_a), F.col(text_b))
    return cols.mapInArrow(kernel, out_schema)
