"""Distributed record framing for multiline / custom-terminator CSV.

The reference frames records with Ruby's CSV reader (a sequential
single-pass parser, csv.rb via metadata.rb:860-880). A driver-side or
whole-file, single-task framer does not survive a 100 TB file: framing
must be SPLITTABLE.

This module frames records across fixed byte-range chunks of a file,
fully executor-side:

1. **Chunk plan** (driver, metadata only): ``ceil(size / chunk_bytes)``
   ranges ``[start, end)``. Each task reads its range plus a
   ``max_term-1``-byte lookbehind/lookahead overlap.
2. **Quote-parity pass** (one cheap executor scan): per-chunk count of
   the quote byte over the OWNED range. A driver prefix-sum (one int per
   chunk) gives every chunk its starting in-quote state — the classic
   two-phase trick that makes quoted-CSV framing parallel.
3. **Match + fragment pass**: each chunk finds the unquoted terminator
   matches it OWNS (match start inside ``[start, end)`` — the same
   exactly-once ownership rule as ops/rangejoin.py) and emits the byte
   fragments between them. Interior fragments are COMPLETE records and
   never shuffle; only the first/last fragment of each chunk (2 rows per
   chunk, however large the data) go through a groupBy that stitches
   records spanning chunk boundaries.
4. **Assembly**: global record index = (driver prefix-sum of per-chunk
   match counts) + local index; boundary fragments concat in chunk
   order; bytes decode AFTER assembly so multi-byte characters split by
   a chunk boundary reassemble before charset decoding.

Terminator matching replays a sequential consuming scan exactly (the
semantics of Ruby's parser and the round-3 driver splitter): a candidate
inside a quoted region neither matches nor consumes; a real match
consumes its bytes, suppressing overlapping later candidates (so
``\r\n`` beats the ``\n`` inside it). Chunk-locality of that rule is
guaranteed by :func:`chain_safe` — a multi-byte terminator (the only
kind that can suppress) must never itself be suppressible, so
suppression chains have depth 1 and a ``max_term-1`` lookbehind decides
every owned position. Dialects outside these guards (self-overlapping
terminators, escape-mode quoting, non-ASCII-transparent encodings) go
to the sequential splitter in csv_source.py.
"""

from __future__ import annotations

import os
import re
from bisect import bisect_left

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..deploy import ensure_py_files

#: charsets whose quote/terminator bytes cannot appear inside another
#: character's encoding (ASCII-transparent); framing happens on raw bytes
_BYTE_TRANSPARENT = {
    "utf8": "UTF-8", "utf-8": "UTF-8", "ascii": "US-ASCII",
    "us-ascii": "US-ASCII", "latin1": "ISO-8859-1",
    "latin-1": "ISO-8859-1", "iso-8859-1": "ISO-8859-1",
}


def charset_of(encoding: str | None) -> str | None:
    """JVM charset name when *encoding* is byte-transparent, else None."""
    return _BYTE_TRANSPARENT.get((encoding or "utf-8").lower())


def chain_safe(terms: list[bytes]) -> bool:
    """True when a sequential consuming scan is chunk-locally decidable:
    no multi-byte terminator (a potential suppressor) can itself be
    suppressed. Formally: no nonempty proper suffix of any terminator is
    a prefix of a multi-byte terminator. Allows {CRLF, LF} (the CRLF
    suppressing the LF inside it is itself unsuppressable) and any
    single-byte set; rejects self-overlapping shapes like ``aa``."""
    for t1 in terms:
        for t2 in terms:
            if len(t2) < 2:
                continue
            for k in range(1, len(t1)):
                if t2.startswith(t1[k:]) and len(t1) - k < len(t2):
                    return False
    return True


def can_frame_distributed(terminators: list[str], quote: str | None,
                          encoding: str | None,
                          double_quote: bool = True) -> bool:
    """Gate for the distributed framing path (else csv_source falls back
    to its sequential splitter)."""
    if charset_of(encoding) is None:
        return False
    if quote is not None:
        if len(quote) != 1 or ord(quote) > 127:
            return False
        if not double_quote:
            # escape-mode quoting (\") breaks pure quote-parity counting
            return False
    terms = [t.encode("utf-8") for t in terminators]
    if not terms or any(not t or len(t.decode("utf-8", "ignore")) == 0
                        for t in terms):
        return False
    if any(ord(ch) > 127 for t in terminators for ch in t):
        return False
    if quote is not None and any(quote.encode()[0] in t for t in terms):
        return False
    return chain_safe(terms)


def _scan_chunk(path: str, start: int, end: int, terms: list[bytes],
                qbyte: int | None, start_parity: int, max_term: int):
    """Find owned terminator matches in ``[start, end)`` given the
    chunk's starting quote parity; return (matches, content_start) in
    ABSOLUTE byte positions. matches = [(pos, length), ...];
    content_start = first owned byte not consumed by a lookbehind match
    (a terminator owned by the previous chunk may overhang into ours)."""
    lb = max_term - 1
    wstart = max(0, start - lb)
    with open(path, "rb") as f:
        f.seek(wstart)
        data = f.read((end - wstart) + lb)
    s0 = start - wstart  # owned start, window coords

    if qbyte is not None:
        qpos = [m.start() for m in re.finditer(
            re.escape(bytes([qbyte])), data)]
        base = bisect_left(qpos, s0)

        def parity(p: int) -> int:
            return (start_parity + bisect_left(qpos, p) - base) % 2
    else:
        def parity(p: int) -> int:  # quoting disabled
            return 0

    # overlapping candidates via zero-width lookahead, longest term
    # first so the group captures the longest match at each position
    alt = b"|".join(re.escape(t) for t in
                    sorted(terms, key=len, reverse=True))
    matches: list[tuple[int, int]] = []
    content_start = start
    consumed_until = 0
    for m in re.finditer(b"(?=(" + alt + b"))", data):
        p = m.start(1)
        if p >= (end - wstart):
            break  # beyond owned region (lookahead only completes matches)
        if p < consumed_until:
            continue  # suppressed by a consuming match (e.g. LF inside CRLF)
        if parity(p) == 1:
            continue  # inside a quoted cell: neither a match nor consuming
        length = len(m.group(1))
        consumed_until = p + length
        abs_p = wstart + p
        if abs_p < start:
            # lookbehind match owned by the PREVIOUS chunk; its
            # consumption may overhang into our region
            content_start = max(content_start, abs_p + length)
        else:
            matches.append((abs_p, length))
    return matches, content_start


def frame_records(spark: SparkSession, path: str, terminators: list[str],
                  quote: str | None, encoding: str | None = "utf-8",
                  chunk_bytes: int = 8 << 20,
                  double_quote: bool = True) -> DataFrame:
    """Frame *path* into records, distributed. Returns a DataFrame
    ``(_sourceRow long, value string)`` — 1-based record number and the
    record's text (terminators excluded), exactly the sequence the
    round-3 driver splitter / Ruby CSV produce (a trailing terminator
    yields no empty final record).

    Raises ValueError when the dialect is outside the distributed-safe
    guards — callers check :func:`can_frame_distributed` first."""
    if not can_frame_distributed(terminators, quote, encoding,
                                 double_quote):
        raise ValueError("dialect not distributable; use the fallback")
    charset = charset_of(encoding)
    terms = [t.encode("utf-8") for t in terminators]
    max_term = max(len(t) for t in terms)
    qbyte = quote.encode()[0] if quote is not None else None

    size = os.path.getsize(path)
    if size == 0:
        return spark.createDataFrame([], "_sourceRow long, value string")
    # the chunk scanners below are closures over this module
    ensure_py_files(spark)
    n_chunks = (size + chunk_bytes - 1) // chunk_bytes
    plan = [(i, i * chunk_bytes, min((i + 1) * chunk_bytes, size))
            for i in range(n_chunks)]
    sc = spark.sparkContext
    par = min(n_chunks, sc.defaultParallelism * 2)

    # pass 1: per-chunk quote counts -> driver prefix parity (one int
    # per chunk; 100 TB / 8 MiB chunks = ~13M ints, still driver-bounded)
    if qbyte is not None and n_chunks > 1:
        def _count(t):
            cid, s, e = t
            with open(path, "rb") as f:
                f.seek(s)
                return cid, f.read(e - s).count(qbyte)

        counts = dict(sc.parallelize(plan, par).map(_count).collect())
        parities = []
        acc = 0
        for i in range(n_chunks):
            parities.append(acc % 2)
            acc += counts[i]
    else:
        parities = [0] * n_chunks

    # pass 2: owned matches + fragments. localCheckpoint materializes the
    # fragments once so the count aggregation and the assembly below do
    # not each re-read the file.
    plan_p = [(cid, s, e, parities[cid]) for cid, s, e in plan]

    def _fragments(t):
        cid, s, e, par0 = t
        matches, content_start = _scan_chunk(
            path, s, e, terms, qbyte, par0, max_term)
        with open(path, "rb") as f:
            f.seek(content_start)
            data = f.read(e - content_start)
        pos = content_start
        out = []
        for i, (mp, ml) in enumerate(matches):
            out.append((cid, i, bytearray(data[pos - content_start:
                                               mp - content_start])))
            pos = mp + ml
        out.append((cid, len(matches),
                    bytearray(data[max(pos, content_start)
                                   - content_start:])))
        return out

    frags = spark.createDataFrame(
        sc.parallelize(plan_p, par).flatMap(_fragments),
        "chunk_id long, local_idx long, frag binary",
    ).localCheckpoint()

    # driver prefix-sum of per-chunk match counts (fragments - 1 each)
    per_chunk = {r["chunk_id"]: r["n"] for r in
                 frags.groupBy("chunk_id").agg(
                     (F.count(F.lit(1)) - 1).alias("n")).collect()}
    offsets = []
    acc = 0
    for i in range(n_chunks):
        offsets.append((i, acc))
        acc += per_chunk.get(i, 0)
    total_matches = acc
    off_df = spark.createDataFrame(offsets, "chunk_id long, off long")

    frags = (
        frags.join(F.broadcast(off_df), "chunk_id")
        .withColumn("rec_idx", F.col("off") + F.col("local_idx"))
    )
    # interior fragments (0 < local_idx < t_i) are complete records and
    # never shuffle; head (local_idx 0) and tail (local_idx = t_i) of
    # each chunk stitch across boundaries via a 2-rows-per-chunk groupBy
    t_map = F.broadcast(spark.createDataFrame(
        [(int(c), int(n)) for c, n in per_chunk.items()],
        "chunk_id long, t long"))
    frags = frags.join(t_map, "chunk_id")
    interior = frags.filter(
        (F.col("local_idx") > 0) & (F.col("local_idx") < F.col("t"))
    ).select("rec_idx", F.col("frag").alias("rec"))
    boundary = (
        frags.filter((F.col("local_idx") == 0)
                     | (F.col("local_idx") == F.col("t")))
        .groupBy("rec_idx")
        .agg(F.aggregate(
            F.array_sort(F.collect_list(F.struct("chunk_id", "frag"))),
            F.lit(b""),
            lambda acc_, x: F.concat(acc_, x["frag"])).alias("rec"))
    )
    records = interior.unionByName(boundary)
    # a trailing terminator yields no empty final record (csv.rb / the
    # round-3 splitter drop it); other empties are legitimate blank rows
    records = records.filter(
        ~((F.col("rec_idx") == total_matches)
          & (F.length("rec") == 0)))
    return records.select(
        (F.col("rec_idx") + 1).alias("_sourceRow"),
        F.decode(F.col("rec"), charset).alias("value"))
