"""Per-file column statistics from parquet footers.

Re-expresses the reference's ParquetMetrics (/root/reference/src/main/scala/
org/apache/spark/sql/iceberg/utils/ParquetMetrics.scala:38-117): row count,
per-column value/null counts and min/max bounds read from the footer; a
column whose row groups are missing stats is dropped from the stats map
(ParquetMetrics.scala discards incomplete columns the same way).

The reference computes these per write-task on executors and ships them to
the driver inside TaskCommitMessage (IcebergFileCommitProtocol.scala:127-144).
Here collection happens after the Spark write: driver-side with a thread pool
for small file counts, or distributed over the cluster via
``spark.sparkContext.parallelize`` when the file list is large — the same
executor-side placement as the reference, which is what keeps commit cost
bounded at 100 TB (footers only, never data pages).

Per-file Bloom filters (``collect_blooms``) follow the same small/large
split. A write of at most ``BLOOM_LOCAL_MAX_VALUES`` values (footer rows ×
bloom columns) is hashed on the driver with pyarrow and launches no Spark
job; a larger one keeps the distributed ``bit_or`` job. Driver-only
crossover on a 4-vCPU host at ``local[2]`` (``tools/bloom_crossover.py``:
one bigint column, all values distinct, median of 5 calls):

    values    Spark job    in-process
       200       447 ms          2 ms
     2,000       369 ms         15 ms
     8,000       361 ms         56 ms
    32,000       421 ms        282 ms
    64,000       574 ms        645 ms
   128,000       886 ms        906 ms

The Spark job has a fixed cost of about 350 ms; the driver pays 7-10 µs
per distinct value (four md5 calls) and serializes them behind the GIL,
so the two cross near 50k values. 32,768 stays below the crossover.
"""

from __future__ import annotations

import datetime as _dt
import functools
from concurrent.futures import ThreadPoolExecutor

from icebergsql_spark.catalog.metadata import ColStats

DISTRIBUTE_THRESHOLD = 256  # files; above this, stat collection fans out
# bloom values (rows × bloom columns); at or below this, blooms build on
# the driver — see the module docstring for the measured crossover
BLOOM_LOCAL_MAX_VALUES = 32768


def _normalize_stat_value(v):
    if isinstance(v, bytes):
        try:
            return v.decode("utf-8")
        except UnicodeDecodeError:
            return v
    if isinstance(v, _dt.datetime):
        return v.replace(tzinfo=None)
    return v


# Iceberg-style bound truncation (write.metadata.metrics truncate(16)): a
# long string column (document text!) must not ship kilobytes of min/max
# per file into the manifests — at 10^5 files that is manifest bloat the
# driver reads on EVERY plan. A truncated lower bound is simply the prefix
# (still <= every value); the upper bound is the prefix with its last
# character incremented (still >= every value). Wider bounds are always
# SOUND for both may_match pruning (superset) and must_match_all proofs
# (more conservative).
STAT_TRUNCATE_LEN = 16


def _truncate_min(v, limit: int = STAT_TRUNCATE_LEN):
    if isinstance(v, str) and len(v) > limit:
        return v[:limit]
    if isinstance(v, bytes) and len(v) > limit:
        return v[:limit]
    return v


def _truncate_max(v, limit: int = STAT_TRUNCATE_LEN):
    if isinstance(v, str) and len(v) > limit:
        p = v[:limit]
        for i in range(limit - 1, -1, -1):
            c = ord(p[i])
            if c < 0x10FFFF:
                nxt = c + 1
                if 0xD800 <= nxt <= 0xDFFF:
                    # skip the UTF-16 surrogate block: U+D800..U+DFFF are
                    # not UTF-8-encodable, so a bound landing there would
                    # break any sink that encodes bounds as UTF-8 strings
                    # (arrow columns). U+E000 is still a sound upper bound.
                    nxt = 0xE000
                return p[:i] + chr(nxt)
        return v  # every char at the max code point: cannot upper-bound
    if isinstance(v, bytes) and len(v) > limit:
        p = v[:limit]
        for i in range(limit - 1, -1, -1):
            if p[i] < 0xFF:
                return p[:i] + bytes([p[i] + 1])
        return v
    return v


def file_stats(
    path: str, imported: bool = False
) -> tuple[int, int, dict[str, ColStats]]:
    """(record_count, byte_size, {column: ColStats}) for one parquet file.

    ``imported`` marks a file from an outside writer. Its float/double
    bounds are kept only when parquet-mr wrote it: Arrow C++ (pyarrow)
    leaves NaN out of min/max, so a `d > 5` pruned on such a bound would
    drop a NaN row that Spark returns. Our own pyarrow files are not
    imported: the driver writer writes no statistics for a column holding
    NaN, the data source writer none for any float/double column."""
    import os

    import pyarrow.parquet as pq

    pf = pq.ParquetFile(path)
    meta = pf.metadata
    n_rows = meta.num_rows
    unbounded: set[str] = set()
    if imported and not (meta.created_by or "").startswith("parquet-mr"):
        unbounded = {
            c.path for c in pf.schema if c.physical_type in ("FLOAT", "DOUBLE")
        }
    agg: dict[str, ColStats] = {}
    complete: dict[str, bool] = {}
    for rg in range(meta.num_row_groups):
        group = meta.row_group(rg)
        for ci in range(group.num_columns):
            col = group.column(ci)
            name = col.path_in_schema
            if "." in name:  # nested leaves: skip (match reference's flat stats)
                continue
            cur = agg.setdefault(name, ColStats(null_count=0, value_count=0))
            cur.value_count += group.num_rows
            try:
                st = col.statistics
                if st is None or not st.has_min_max:
                    raise ValueError("no min/max")
                mn, mx = _normalize_stat_value(st.min), _normalize_stat_value(st.max)
            except Exception:
                # unreadable/absent stats (e.g. decimal physical types some
                # pyarrow builds can't decode) → drop bounds for this column
                complete[name] = False
                continue
            complete.setdefault(name, True)
            if cur.min is None or mn < cur.min:
                cur.min = mn
            if cur.max is None or mx > cur.max:
                cur.max = mx
            # a row group without a null count makes the file's null count
            # UNKNOWN (None), not zero — IsNull pruning must stay conservative
            if st.null_count is None:
                cur.null_count = None
            elif cur.null_count is not None:
                cur.null_count += st.null_count
    out = {}
    for name, st in agg.items():
        if complete.get(name):
            if name in unbounded:
                st.min = st.max = None
            else:
                st.min = _truncate_min(st.min)
                st.max = _truncate_max(st.max)
            out[name] = st
        # else: drop bounds entirely (reference behavior for partial stats)
    return n_rows, os.path.getsize(path), out


def orc_file_stats(path: str) -> tuple[int, int, dict[str, ColStats]]:
    """Non-parquet fallback: record count + byte size, NO column stats —
    the reference's iceMetrics returns None for non-parquet formats
    (utils/utils.scala:184-191), so such files never stats-prune; partition
    pruning still applies."""
    import os

    import pyarrow.orc as po

    return po.ORCFile(path).nrows, os.path.getsize(path), {}


def _avro_read_long(buf: bytes, pos: int) -> tuple[int, int]:
    """Decode one Avro zig-zag varint long; returns (value, new_pos).
    Avro 1.11 spec §'Primitive Types > long' (public spec, no library)."""
    shift = 0
    acc = 0
    while True:
        b = buf[pos]
        pos += 1
        acc |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
    return (acc >> 1) ^ -(acc & 1), pos


def avro_file_stats(path: str) -> tuple[int, int, dict[str, ColStats]]:
    """Avro fallback: record count from the Object Container File block
    headers (magic, metadata map, then per-block (count, size) longs —
    Avro spec 'Object Container Files'), byte size, NO column stats.
    Mirrors the reference's parquet-else-avro iceMetrics fallback
    (utils/utils.scala:168-198: non-parquet files carry no column stats,
    so they never stats-prune; partition pruning still applies). Pure
    Python — only block HEADERS are decoded, data blocks are skipped, so
    cost is O(blocks), not O(bytes)."""
    import os

    with open(path, "rb") as f:
        buf = f.read()
    if buf[:4] != b"Obj\x01":
        raise ValueError(f"{path} is not an Avro object container file")
    pos = 4
    # file metadata: map<string,bytes> written as repeated counted blocks
    while True:
        n, pos = _avro_read_long(buf, pos)
        if n == 0:
            break
        if n < 0:  # negative count: followed by a byte-size long
            _, pos = _avro_read_long(buf, pos)
            n = -n
        for _ in range(n):
            klen, pos = _avro_read_long(buf, pos)
            pos += klen
            vlen, pos = _avro_read_long(buf, pos)
            pos += vlen
    pos += 16  # sync marker
    n_rows = 0
    total = len(buf)
    while pos < total:
        cnt, pos = _avro_read_long(buf, pos)
        size, pos = _avro_read_long(buf, pos)
        n_rows += cnt
        pos += size + 16  # data block + sync marker
    return n_rows, os.path.getsize(path), {}


_FALLBACK_READERS = {"orc": orc_file_stats, "avro": avro_file_stats}


def collect_stats(
    paths: list[str], spark=None, file_format: str = "parquet", imported: bool = False
) -> dict[str, tuple[int, int, dict[str, ColStats]]]:
    """Stats for many files; distributed via Spark when the list is large.
    ``imported`` is passed on to ``file_stats``."""
    reader = _FALLBACK_READERS.get(file_format) or functools.partial(
        file_stats, imported=imported
    )
    if spark is not None and len(paths) > DISTRIBUTE_THRESHOLD:
        sc = spark.sparkContext
        n_parts = min(len(paths), 64)

        def part(it):
            for p in it:
                yield (p, reader(p))

        return dict(sc.parallelize(paths, n_parts).mapPartitions(part).collect())
    with ThreadPoolExecutor(max_workers=16) as ex:
        return dict(zip(paths, ex.map(reader, paths)))


# ------------------------------------------------- per-file Bloom filters --
#
# Equality/IN file skipping beyond min/max (Iceberg spec v1 does this with
# parquet bloom filters; Delta with file-level blooms). Deterministic md5
# hashing so both builds (in-process and Spark-side) and the Python-side
# probe agree exactly.
# Layout: BLOOM_M_BITS bits as BLOOM_M_BITS//64 little-endian int64 words,
# base64-encoded. A set bit can never be missed by the probe, so pruning is
# sound (no false negatives by construction); false positives only cost IO.

BLOOM_M_BITS = 65536  # default; override per table via bloom.filter.bits
BLOOM_K = 4

# only value types whose CAST(col AS STRING) in Spark equals Python str()
# of the predicate literal — soundness depends on identical canonical forms
BLOOM_SUPPORTED_SPARK_TYPES = ("string", "int", "bigint", "smallint", "tinyint", "long", "integer", "short", "byte")


def bloom_positions(value_str: str, m_bits: int = BLOOM_M_BITS) -> list[int]:
    """The BLOOM_K bit positions for one canonical value (md5-derived;
    must mirror the Spark expression in collect_blooms exactly)."""
    import hashlib

    return [
        int(hashlib.md5(f"{value_str}#{i}".encode()).hexdigest()[:8], 16)
        % m_bits
        for i in range(BLOOM_K)
    ]


def bloom_may_contain(b64: str, value_str: str) -> bool:
    import base64

    bits = base64.b64decode(b64)
    m_bits = len(bits) * 8  # filter size rides in the blob itself
    for p in bloom_positions(value_str, m_bits):
        if not (bits[p // 8] >> (p % 8)) & 1:
            return False
    return True


def _small_write_files(paths: list[str], n_cols: int):
    """The opened ``ParquetFile`` per path when the write holds at most
    BLOOM_LOCAL_MAX_VALUES bloom values, else None. Footer reading stops
    at the first file that crosses the cut-off."""
    import pyarrow.parquet as pq

    max_rows = BLOOM_LOCAL_MAX_VALUES // n_cols
    files, rows = [], 0
    for p in paths:
        pf = pq.ParquetFile(p)
        rows += pf.metadata.num_rows
        if rows > max_rows:
            return None
        files.append((p, pf))
    return files


def _local_blooms(files, cols: list[str], m_bits: int) -> dict[str, dict[str, str]]:
    """In-process twin of the Spark build in ``collect_blooms``: bloom
    columns only, NULLs dropped, distinct values per (file, column), and
    a (file, column) with no non-null value gets no entry. Bits are set
    through ``bloom_positions``, the probe's own position function."""
    import base64

    import pyarrow as pa

    from icebergsql_spark.table import TableValidationError

    out: dict[str, dict[str, str]] = {}
    for path, pf in files:
        present = set(pf.schema_arrow.names)
        read = [c for c in cols if c in present]
        if not read:
            continue
        data = pf.read(columns=read)
        for c in read:
            col = data.column(c)
            t = col.type
            if pa.types.is_dictionary(t):  # e.g. a pandas categorical
                col, t = col.cast(t.value_type), t.value_type
            # str() equals Spark's CAST(col AS STRING) only for these; any
            # other type would build a filter the probe misses (false
            # negative prune), so refuse rather than guess
            if not (
                pa.types.is_integer(t)
                or pa.types.is_string(t)
                or pa.types.is_large_string(t)
            ):
                raise TableValidationError(
                    f"bloom column {c!r} in {path} has type {t}; bloom "
                    "filters need integer or string columns"
                )
            values = col.drop_null().unique().to_pylist()
            if not values:
                continue
            bits = bytearray(m_bits // 8)
            for v in values:
                for p in bloom_positions(str(v), m_bits):
                    bits[p // 8] |= 1 << (p % 8)
            out.setdefault(path, {})[c] = base64.b64encode(bytes(bits)).decode()
    return out


def collect_blooms(
    spark,
    paths: list[str],
    cols: list[str],
    m_bits: int = BLOOM_M_BITS,
    schema=None,
) -> dict[str, dict[str, str]]:
    """A Bloom filter per (file, column) over the written files. Returns
    {file_path: {col: base64_bits}}; byte-identical whichever build runs.

    Small writes (footer rows × |cols| <= BLOOM_LOCAL_MAX_VALUES, measured
    crossover in the module docstring) build in-process: a pyarrow read of
    the bloom columns and ``bloom_positions`` per distinct value, no Spark
    job. Above the cut-off four md5 calls per value, serialized behind
    the GIL, cost more than the job, so larger writes run ONE distributed
    pass (column-pruned scan):

    All columns are hashed in the same job: each row contributes a
    column-tagged position array per bloom column, and the k·|cols|
    positions are exploded together — one scan, one shuffle, regardless
    of how many bloom columns the table declares (a per-column job would
    re-read the files |cols| times on every commit).

    Shape at scale: explode O(rows·k·|cols|) positions, partial-aggregate
    the bit_or map-side, shuffle keyed by (file, col, word) — at most
    files × |cols| × BLOOM_M_BITS/64 rows reach the driver, independent
    of row count."""
    import base64
    import urllib.parse as _u

    from pyspark.sql import functions as F

    if not paths or not cols:
        return {}
    small = _small_write_files(paths, len(cols))
    if small is not None:
        return _local_blooms(small, cols, m_bits)
    # a caller that just WROTE the files (so their physical types are
    # known exactly) passes `schema` — a pruned StructType of the bloom
    # columns — which skips the footer-sampling schema-inference job;
    # imported/external files keep the inferred read
    reader = spark.read.schema(schema) if schema is not None else spark.read
    df = reader.parquet(*paths).select(
        F.input_file_name().alias("__f"), *cols
    )

    def positions(col: str):
        canon = F.col(col).cast("string")
        return F.array(
            *[
                F.struct(
                    F.lit(col).alias("c"),
                    (
                        F.conv(
                            F.substring(
                                F.md5(F.concat(canon, F.lit(f"#{i}"))), 1, 8
                            ),
                            16,
                            10,
                        ).cast("bigint")
                        % m_bits
                    ).alias("p"),
                )
                for i in range(BLOOM_K)
            ]
        )

    # NULL values contribute no positions: filter() inside the per-column
    # array keeps the row (other columns may be non-null) while dropping
    # that column's entries — equivalent to the old per-column isNotNull.
    tagged = F.flatten(
        F.array(
            *[
                F.when(F.col(c).isNotNull(), positions(c)).otherwise(
                    F.array().cast("array<struct<c:string,p:bigint>>")
                )
                for c in cols
            ]
        )
    )
    words = (
        df.select("__f", F.explode(tagged).alias("cp"))
        .select(
            "__f",
            F.col("cp.c").alias("c"),
            F.expr("cp.p div 64").alias("w"),
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(cp.p % 64 AS INT))"
            ).alias("m"),
        )
        .groupBy("__f", "c", "w")
        .agg(F.expr("bit_or(m)").alias("bits"))
        .collect()
    )
    n_words = m_bits // 64
    per_file_col: dict[tuple[str, str], list[int]] = {}
    for r in words:
        path = _u.unquote(_u.urlparse(r["__f"]).path)
        per_file_col.setdefault((path, r["c"]), [0] * n_words)[r["w"]] = r["bits"]
    out: dict[str, dict[str, str]] = {}
    for (path, col), arr in per_file_col.items():
        raw = b"".join(
            (w & 0xFFFFFFFFFFFFFFFF).to_bytes(8, "little") for w in arr
        )
        out.setdefault(path, {})[col] = base64.b64encode(raw).decode()
    return out
