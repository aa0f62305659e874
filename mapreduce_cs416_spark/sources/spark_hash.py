"""Pure-Python replay of Spark's ``xxhash64(...)`` expression.

Why this exists: the manifest table's default layout hashes key
columns through ``pmod(xxhash64(keys), n_buckets)`` (see
``manifest.default_partition_expr``). Two places must compute those
buckets without a JVM: the native streaming sink
(manifest_sink.py), which buckets every row of a micro-batch inside
a Python DataSource worker, and key-equality pruning
(``manifest._resolve_candidate_buckets``), which also serves the
native ``spark.read.format("manifest")`` source — PySpark 4's Python
DataSource API plans in a driver-side Python worker with NO
SparkSession. Both reach this module through
``layout_replay.ReplayableLayout.bucket_ids``, over whole numpy
arrays: a point read's few literal combinations are just a short
batch.

xxHash64 is a public, fully specified algorithm (Yann Collet,
github.com/Cyan4973/xxHash); Spark's ``XxHash64`` expression applies
it per column with the running hash as the seed (initial seed 42) and
a documented per-type lane encoding (sql/catalyst HashExpression):
integral types hash as their 4- or 8-byte two's-complement lanes,
strings/binary as their UTF-8 bytes, floats/doubles as their IEEE
bits with -0.0 normalized to 0.0, dates as days-since-epoch ints,
and NULL columns leave the running hash unchanged.

Correctness is pinned empirically, not by trust:
``tests/test_manifest_source.py`` property-tests every supported type
against ``F.xxhash64`` on randomized values. Timestamps hash their
long micros-since-epoch — an absolute instant, timezone-INdependent —
but a zoneless timestamp LITERAL must be resolved under the session
timezone Spark's own cast would apply (:func:`timestamp_literal`;
DST-ambiguous and nonexistent local times refuse rather than guess).
Anything not supported here (arrays, maps, decimals) raises
:class:`UnsupportedLane` or is refused by ``compile_layout``, and
the caller degrades to stats-only pruning; a wrong prune is never an
option because unsupported inputs refuse loudly.
"""

from __future__ import annotations

_M = (1 << 64) - 1
_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5


def micros_of(aware) -> int:
    """Exact integer micros-since-epoch of a tz-aware datetime
    (timedelta integer arithmetic — ``.timestamp()`` floats round)."""
    import datetime

    td = aware - datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)
    return (td.days * 86400 + td.seconds) * 1_000_000 + td.microseconds


class UnsupportedLane(ValueError):
    """Raised when a (value, Spark type) pair has no replayable lane —
    callers must treat this as 'cannot prune', never guess."""


def timestamp_literal(text: str, tz_name: str):
    """A timestamp LITERAL (e.g. ``'2024-01-01 10:30:00'``) resolved
    to the tz-AWARE instant Spark's own cast would produce under
    session timezone ``tz_name`` — what makes a replayed bucket match
    the row filter's answer. Raises :class:`UnsupportedLane` for
    unknown zones, unparseable text, and DST-ambiguous or nonexistent
    local times (where JVM and zoneinfo disambiguation rules could
    differ — refuse, never risk a wrong prune)."""
    import datetime
    import zoneinfo

    try:
        zone = zoneinfo.ZoneInfo(tz_name)
    except (KeyError, ValueError, zoneinfo.ZoneInfoNotFoundError) as exc:
        raise UnsupportedLane(f"unknown timezone {tz_name!r}") from exc
    try:
        naive = datetime.datetime.fromisoformat(text.replace("T", " ").strip())
    except ValueError as exc:
        raise UnsupportedLane(f"unparseable timestamp literal {text!r}") from exc
    if naive.tzinfo is not None:
        return naive
    a0 = naive.replace(tzinfo=zone, fold=0)
    a1 = naive.replace(tzinfo=zone, fold=1)
    if a0.utcoffset() != a1.utcoffset():
        raise UnsupportedLane(
            f"{text!r} is ambiguous or nonexistent in {tz_name} (DST boundary)"
        )
    return a0


# --- vectorized lanes (numpy uint64 wraparound arithmetic) -------------
#
# The native streaming SINK (manifest_sink.py) buckets EVERY ROW of
# every micro-batch, where a per-row Python loop would be the classic
# slow path, so the chained hash runs over whole numpy arrays; null
# positions carry the running seed through unchanged, exactly Spark's
# skip. Point-read pruning uses the same lanes on a short batch.
# Property-pinned against F.xxhash64.

def _v_rotl(x, r: int):
    import numpy as np

    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def _v_avalanche(h):
    import numpy as np

    u = np.uint64
    h = h ^ (h >> u(33))
    h = h * u(_P2)
    h = h ^ (h >> u(29))
    h = h * u(_P3)
    return h ^ (h >> u(32))


def _v_hash_long(lane_u64, seed_u64):
    import numpy as np

    u = np.uint64
    h = seed_u64 + u((_P5 + 8) & _M)
    h = h ^ (_v_rotl(lane_u64 * u(_P2), 31) * u(_P1))
    h = _v_rotl(h, 27) * u(_P1) + u(_P4)
    return _v_avalanche(h)


def _v_hash_int(lane_u32, seed_u64):
    import numpy as np

    u = np.uint64
    h = seed_u64 + u((_P5 + 4) & _M)
    h = h ^ (lane_u32.astype(np.uint64) * u(_P1))
    h = _v_rotl(h, 23) * u(_P2) + u(_P3)
    return _v_avalanche(h)


VECTOR_LANES = ("boolean", "byte", "short", "integer", "date",
                "long", "float", "double")

# Strings vectorize through an offset-padded byte matrix (below). The
# matrix is n_rows × max_len bytes, so one long key in a 100k-row
# batch would blow the allocation up — batches whose longest key fits
# this threshold hash in ONE matrix; longer keys (URL-/path-keyed
# tables, VERDICT r12 item 4) stay vectorized but process in row
# slices sized to LONG_KEY_SLICE_BYTES each (layout_replay._hash_ids).
VECTOR_MAX_STRLEN = 256

# Byte budget per row-slice matrix on the long-key path: with 4 KB
# keys this is ~2k rows per slice — small enough to sit in cache,
# large enough that the numpy stripe loop amortizes.
LONG_KEY_SLICE_BYTES = 8 << 20


def string_max_len(arr) -> int:
    """Longest UTF-8 byte length in a pyarrow String/LargeString
    array, read straight from the offsets buffer (no data copy)."""
    import numpy as np
    import pyarrow as pa

    n = len(arr)
    if not n:
        return 0
    off_dtype = np.int64 if pa.types.is_large_string(arr.type) else np.int32
    bufs = arr.buffers()
    offs = np.frombuffer(
        bufs[1], off_dtype, count=n + 1,
        offset=arr.offset * np.dtype(off_dtype).itemsize,
    ).astype(np.int64)
    return int((offs[1:] - offs[:-1]).max())


def _v_round(acc, lane):
    import numpy as np

    u = np.uint64
    return _v_rotl(acc + lane * u(_P2), 31) * u(_P1)


def utf8_matrix(arr, cap: int = VECTOR_MAX_STRLEN):
    """(byte_matrix, lengths) for a pyarrow String/LargeString array:
    an offset-padded uint8 matrix (width rounded up to 32 bytes, the
    xxh64 stripe) whose row r holds the UTF-8 bytes of value r,
    zero-padded — the vector-friendly layout ``_v_hash_bytes`` walks.
    Null slots are zero-length placeholders (callers mask by
    validity). Returns None when any row exceeds ``cap`` — the caller
    slices the batch into smaller row groups with a raised cap
    (``layout_replay._hash_ids``'s long-key path, VERDICT r12 item 4)
    rather than allocate a degenerate matrix."""
    import numpy as np
    import pyarrow as pa

    n = len(arr)
    off_dtype = np.int64 if pa.types.is_large_string(arr.type) else np.int32
    bufs = arr.buffers()
    offs = np.frombuffer(
        bufs[1], off_dtype, count=n + 1,
        offset=arr.offset * np.dtype(off_dtype).itemsize,
    ).astype(np.int64)
    lengths = offs[1:] - offs[:-1]
    max_len = int(lengths.max()) if n else 0
    if max_len > cap:
        return None
    width = max(32, (max_len + 31) // 32 * 32)
    mat = np.zeros((max(n, 1), width), np.uint8)
    total = int(offs[-1] - offs[0])
    if total:
        data = np.frombuffer(bufs[2], np.uint8)
        rows = np.repeat(np.arange(n), lengths)
        cols = np.arange(total) - np.repeat(offs[:-1] - offs[0], lengths)
        mat[rows, cols] = data[offs[0]:offs[-1]]
    return mat, lengths


def _v_hash_bytes(mat, lengths, seed):
    """xxHash64 over variable-length rows: ``mat`` is the padded byte
    matrix from :func:`utf8_matrix`, ``lengths`` the per-row byte
    counts, ``seed`` the per-row running hash (uint64 array). Every
    phase of the algorithm (32-byte stripes, 8-byte chunks, one 4-byte
    chunk, tail bytes) runs as masked whole-column ops; rows shorter
    than a phase's window carry their state through untouched —
    exactly the per-row control flow, property-pinned against
    ``F.xxhash64``."""
    import numpy as np

    u = np.uint64
    n_rows = len(lengths)
    lens = lengths.astype(np.int64)
    rows = np.arange(n_rows)
    W8 = mat.view(np.uint64)   # little-endian lanes (x86/arm64)
    W4 = mat.view(np.uint32)
    nblocks = np.where(lens >= 32, lens // 32, 0)
    # 32-byte stripe phase (len >= 32 rows only)
    v1 = seed + u((_P1 + _P2) & _M)
    v2 = seed + u(_P2)
    v3 = seed.copy()
    v4 = seed - u(_P1)
    for k in range(int(nblocks.max()) if n_rows else 0):
        m = nblocks > k
        v1 = np.where(m, _v_round(v1, W8[:, 4 * k]), v1)
        v2 = np.where(m, _v_round(v2, W8[:, 4 * k + 1]), v2)
        v3 = np.where(m, _v_round(v3, W8[:, 4 * k + 2]), v3)
        v4 = np.where(m, _v_round(v4, W8[:, 4 * k + 3]), v4)
    hbig = (
        _v_rotl(v1, 1) + _v_rotl(v2, 7) + _v_rotl(v3, 12) + _v_rotl(v4, 18)
    )
    for v in (v1, v2, v3, v4):
        hbig = (hbig ^ _v_round(np.zeros(n_rows, u), v)) * u(_P1) + u(_P4)
    h = np.where(lens >= 32, hbig, seed + u(_P5))
    h = h + lens.astype(u)
    i = nblocks * 32
    for _ in range(3):  # remainder < 32 → at most three 8-byte chunks
        m = i + 8 <= lens
        lane = W8[rows, np.where(m, i, 0) // 8]
        nh = (h ^ _v_round(np.zeros(n_rows, u), lane))
        nh = _v_rotl(nh, 27) * u(_P1) + u(_P4)
        h = np.where(m, nh, h)
        i = np.where(m, i + 8, i)
    m = i + 4 <= lens  # at most one 4-byte chunk
    lane4 = W4[rows, np.where(m, i, 0) // 4].astype(u)
    nh = _v_rotl(h ^ (lane4 * u(_P1)), 23) * u(_P2) + u(_P3)
    h = np.where(m, nh, h)
    i = np.where(m, i + 4, i)
    for _ in range(3):  # tail bytes
        m = i < lens
        b = mat[rows, np.where(m, i, 0)].astype(u)
        nh = _v_rotl(h ^ (b * u(_P5)), 11) * u(_P1)
        h = np.where(m, nh, h)
        i = np.where(m, i + 1, i)
    return _v_avalanche(h)


def _lane_arrays(values, type_name: str):
    """(lane, width) for one column: a uint32 ('int' lanes) or uint64
    ('long' lanes) numpy array of the exact bit patterns Spark hashes.
    ``values`` is a numpy array with nulls already replaced by any
    placeholder (masked out by the caller)."""
    import numpy as np

    if type_name in ("byte", "short", "integer", "date"):
        return values.astype(np.int32).view(np.uint32), 32
    if type_name == "boolean":
        return values.astype(np.int32).view(np.uint32), 32
    if type_name in ("long", "timestamp"):
        # a STORED timestamp is an absolute instant — its lane is the
        # long micros-since-epoch, session-timezone-INdependent (the
        # timezone only matters when parsing a literal, see
        # timestamp_literal); callers pass micros int64
        return values.astype(np.int64).view(np.uint64), 64
    if type_name == "float":
        f = values.astype(np.float32) + np.float32(0.0)  # -0.0 → +0.0
        return f.view(np.uint32), 32
    if type_name == "double":
        d = values.astype(np.float64) + 0.0
        return d.view(np.uint64), 64
    raise UnsupportedLane(type_name)


def xxhash64_vector(columns, fields):
    """Spark's ``xxhash64(col1, col2, ...)`` over whole columns:
    running hash seeded at 42, NULLs skipped. ``columns`` is a list of
    ``(values, valid)`` pairs (numpy value array — null slots may hold
    any placeholder — and a boolean validity array or None), one per
    field, all the same length. String columns pass the
    ``(byte_matrix, lengths)`` pair from :func:`utf8_matrix` as their
    values. Returns the SIGNED int64 hash array (what the SQL
    expression returns). A type with no lane here (a decimal, say)
    raises :class:`UnsupportedLane`."""
    import numpy as np

    if not columns:
        n = 0
    elif isinstance(columns[0][0], tuple):  # (byte_matrix, lengths)
        n = len(columns[0][0][1])
    else:
        n = len(columns[0][0])
    h = np.full(n, 42, dtype=np.uint64)
    for (values, valid), field in zip(columns, fields):
        if field.dataType.typeName() in ("string", "binary"):
            mat, lengths = values
            nh = _v_hash_bytes(mat, lengths, h)
        else:
            lane, width = _lane_arrays(values, field.dataType.typeName())
            nh = _v_hash_int(lane, h) if width == 32 else _v_hash_long(lane, h)
        h = np.where(valid, nh, h) if valid is not None else nh
    return h.view(np.int64)


def bucket_vector(columns, fields, n_buckets: int):
    """``pmod(xxhash64(keys), n)`` over whole arrays — the native
    sink's per-row bucketing. numpy's % on signed int64 is already
    the non-negative (floored) modulus pmod computes."""
    return xxhash64_vector(columns, fields) % n_buckets
