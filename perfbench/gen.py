"""Seeded input generators for the benchmark workloads.

Every generator takes a ``random.Random`` seeded from ``--seed`` and writes
its inputs under a fresh directory, outside any timed region. Each returns a
manifest: input bytes on disk, input row counts by kind, a digest of the
input files (so a change in the inputs between commits shows), and the
correct output, computed here independently of the package's own
transforms: as a digest for the SSTable corpus, as a parquet table of
expected rows for the cell-struct table.

Output digests are order-independent: the sum, modulo 2**64, of the first
eight bytes of the MD5 of each row's canonical string (see
:func:`row_digest`), plus the row count. ``check.py`` computes the same
digest over the rows decoded from the program's output.
"""

from __future__ import annotations

import hashlib
import os
import random
import string
import struct
import zlib

from cassandra_ttl_remover_spark.sources.sstable import (
    DELETION_MASK,
    EXPIRATION_MASK,
    write_sstable,
)

NULL = "<null>"  # never a generated value (those are lowercase letters)
SEP = "\x1f"
_MASK64 = (1 << 64) - 1

#: writetimes are microseconds around 2023-11; expirations seconds after it
_WT0 = 1_700_000_000_000_000
_EXP0 = 1_700_100_000

#: shares of cells that carry a TTL and of cells that are tombstones (every
#: corpus); the rest are live cells with no TTL
EXPIRING = 0.70
TOMBSTONES = 0.02


def row_digest(canonical: str) -> int:
    """First eight bytes of the MD5 of ``canonical`` as an unsigned int."""
    return int.from_bytes(
        hashlib.md5(canonical.encode("utf-8")).digest()[:8], "big")


class Digest:
    """Order-independent multiset digest: row count plus summed row hashes."""

    def __init__(self) -> None:
        self.rows = 0
        self.total = 0

    def add(self, canonical: str) -> None:
        self.rows += 1
        self.total = (self.total + row_digest(canonical)) & _MASK64

    def as_dict(self) -> dict:
        return {"rows": self.rows, "sum": self.total}


def _s(v) -> str:
    return NULL if v is None else str(v)


def sstable_row(pk, cell, kind, ttl, exp, wt, value) -> str:
    """Canonical string of one flat SSTable cell row (SSTABLE_SCHEMA order)."""
    return SEP.join(map(_s, (pk, cell, kind, ttl, exp, wt, value)))


def file_crcs(root: str) -> list[tuple[str, int, int]]:
    """``(relative path, bytes, CRC-32)`` of every file under ``root``, in
    path order."""
    out = []
    for dirpath, _, names in os.walk(root):
        for name in names:
            p = os.path.join(dirpath, name)
            crc = size = 0
            with open(p, "rb") as f:
                while chunk := f.read(1 << 20):
                    crc = zlib.crc32(chunk, crc)
                    size += len(chunk)
            out.append((os.path.relpath(p, root), size, crc))
    return sorted(out)


def files_digest(root: str) -> dict:
    """Byte count, file count and one CRC-32 over every file's path and
    CRC: a fingerprint that changes when any input byte changes."""
    files = file_crcs(root)
    crc = zlib.crc32("".join(f"{p}:{c}\n" for p, _, c in files).encode())
    return {"bytes": sum(n for _, n, _ in files), "files": len(files),
            "crc32": crc}


def _word(rng: random.Random, n: int) -> str:
    return "".join(rng.choices(string.ascii_lowercase, k=n))


# ---------------------------------------------------------------------------
# SSTable corpus (rewrite_narrow)
# ---------------------------------------------------------------------------

#: SSTable corpus shape: partition deletions, cells per partition, value size
DELETED_PARTITIONS = 0.01
CELLS_PER_PARTITION = (4, 28)
VALUE_BYTES = 16


def sstable_corpus(rng: random.Random, out_dir: str, *, cells: int,
                   tables: int) -> dict:
    """Many small partitions of v1 uncompressed cells split across
    ``tables`` table directories: ``EXPIRING`` of the cells carry a TTL,
    ``TOMBSTONES`` are cell tombstones, the rest are live cells, and
    ``DELETED_PARTITIONS`` of the partitions carry a partition deletion.

    The expected output is the stripped cell set: every expiring cell
    becomes a normal cell with no ttl or expiration, every other atom is
    kept verbatim."""
    per_table: list[list] = [[] for _ in range(tables)]
    kinds = {"expiring": 0, "tombstone": 0, "normal": 0,
             "partition_tombstone": 0}
    expect = Digest()
    made = p = 0
    while made < cells:
        key = f"pk{p:09d}"
        p += 1
        n = min(rng.randint(*CELLS_PER_PARTITION), cells - made)
        body = []
        for c in range(n):
            name = f"c{c:04d}"
            wt = _WT0 + rng.randrange(10 ** 9)
            r = rng.random()
            if r < EXPIRING:
                ttl = rng.randrange(60, 86_400)
                value = _word(rng, VALUE_BYTES)
                body.append((name.encode(), EXPIRATION_MASK, ttl,
                             _EXP0 + ttl, wt, value.encode()))
                kinds["expiring"] += 1
                expect.add(sstable_row(key, name, "normal", None, None, wt,
                                       value))
            elif r < EXPIRING + TOMBSTONES:
                ldt = _EXP0 + rng.randrange(10 ** 6)
                body.append((name.encode(), DELETION_MASK, 0, 0, wt,
                             struct.pack(">i", ldt)))
                kinds["tombstone"] += 1
                expect.add(sstable_row(key, name, "tombstone", None, ldt, wt,
                                       None))
            else:
                value = _word(rng, VALUE_BYTES)
                body.append((name.encode(), 0, 0, 0, wt, value.encode()))
                kinds["normal"] += 1
                expect.add(sstable_row(key, name, "normal", None, None, wt,
                                       value))
        made += n
        part: tuple = (key.encode(), body)
        if rng.random() < DELETED_PARTITIONS:
            ldt = _EXP0 + rng.randrange(10 ** 6)
            mfda = _WT0 + rng.randrange(10 ** 9)
            part = (key.encode(), body, (ldt, mfda))
            kinds["partition_tombstone"] += 1
            expect.add(sstable_row(key, None, "partition_tombstone", None,
                                   ldt, mfda, None))
        per_table[rng.randrange(tables)].append(part)
    for i, parts in enumerate(per_table):
        write_sstable(parts, os.path.join(out_dir, f"table-{i:02d}"))
    return {
        "partitions": p,
        "cells": cells,
        "rows_by_kind": kinds,
        "input": files_digest(out_dir),
        "data_bytes": _data_db_bytes(out_dir),
        "expected": expect.as_dict(),
    }


def _data_db_bytes(root: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, "Data.db"))
        for d, _, names in os.walk(root) if "Data.db" in names
    )


# ---------------------------------------------------------------------------
# Cell-struct parquet table (parquet_cells)
# ---------------------------------------------------------------------------

#: the table as the CLI's ``--cql`` declares it
CELLS_CQL = ("CREATE TABLE bench.cells (user_id bigint, seq int, name text, "
             "score bigint, tags list<text>, props map<text, text>, "
             "PRIMARY KEY ((user_id), seq))")
#: cell-struct table shape: rows per partition, absent scalar cells,
#: collection sizes, row deletions
ROWS_PER_PARTITION = (1, 8)
ABSENT = 0.05
COLLECTION_CELLS = (0, 4)
ROW_DELETIONS = 0.01


def _cell_type(pa, value_type):
    return pa.struct([("value", value_type), ("writetime", pa.int64()),
                      ("ttl", pa.int64()), ("expires_at", pa.int64()),
                      ("deleted_ts", pa.int64())])


def _words(pa, np, gen, n: int, width: int):
    """``n`` random lowercase strings of ``width`` letters, as one arrow
    string array built from its buffers."""
    data = gen.integers(97, 123, size=n * width, dtype=np.uint8)
    offsets = np.arange(0, n * width + 1, width, dtype=np.int32)
    return pa.StringArray.from_buffers(n, pa.py_buffer(offsets),
                                       pa.py_buffer(data))


def _cells(pa, np, gen, values, kinds: dict, absent=None):
    """``len(values)`` cells in ``schema.cell_struct`` form, by the
    ``EXPIRING`` / ``TOMBSTONES`` shares: expiring (a ttl and an
    expiration), tombstone (no value, a deletion time) or live. ``absent``
    marks cells that are not there at all (a null struct). Returns the
    cells and the same cells stripped: ttl and expiration cleared, every
    other field verbatim."""
    import pyarrow.compute as pc

    n = len(values)
    r = gen.random(n)
    expiring = r < EXPIRING
    tomb = (r >= EXPIRING) & (r < EXPIRING + TOMBSTONES)
    present = np.ones(n, bool) if absent is None else ~absent
    for kind, mask in (("expiring", expiring), ("tombstone", tomb),
                       ("normal", ~expiring & ~tomb)):
        kinds[kind] += int((mask & present).sum())
    wt = _WT0 + gen.integers(0, 10 ** 9, n)
    ttl = gen.integers(60, 86_400, n)
    value = pc.if_else(pa.array(tomb), pa.scalar(None, values.type), values)
    deleted = pa.array(wt + gen.integers(0, 1000, n), mask=~tomb)
    nulls = pa.nulls(n, pa.int64())
    mask = None if absent is None else pa.array(absent)

    def cells(ttl_col, exp_col):
        return pa.StructArray.from_arrays(
            [value, pa.array(wt), ttl_col, exp_col, deleted],
            fields=list(_cell_type(pa, values.type)), mask=mask)

    return (cells(pa.array(ttl, mask=~expiring),
                  pa.array(_EXP0 + ttl, mask=~expiring)),
            cells(nulls, nulls))


def _collection_offsets(np, gen, rows: int):
    """List offsets for ``rows`` collections of ``COLLECTION_CELLS``
    cells each, and each element's position in its collection."""
    sizes = gen.integers(COLLECTION_CELLS[0], COLLECTION_CELLS[1] + 1, rows)
    offsets = np.concatenate([[0], np.cumsum(sizes)]).astype(np.int32)
    position = np.arange(offsets[-1]) - np.repeat(offsets[:-1], sizes)
    return offsets, position


def cell_table(rng: random.Random, out_dir: str, expected_path: str, *,
               rows: int) -> dict:
    """``rows`` rows of ``CELLS_CQL`` in the annotated cell-struct model
    (``schema.annotated_schema``): scalar ``name``/``score`` cells, a list
    and a map of cells, row liveness and row deletions, written in random
    order to one parquet file under ``out_dir``. Built column by column
    with NumPy from a generator seeded by ``rng``.

    The expected output is written to ``expected_path`` with the same
    schema: every row with each cell's and the row liveness's ttl and
    expiration cleared, every other field verbatim (tombstones, absent
    cells and row deletions included)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    gen = np.random.default_rng(rng.getrandbits(64))
    kinds = {"expiring": 0, "tombstone": 0, "normal": 0, "row_deletion": 0}
    lo, hi = ROWS_PER_PARTITION
    sizes = gen.integers(lo, hi + 1, rows)  # enough partitions for rows
    users = int(np.searchsorted(np.cumsum(sizes), rows)) + 1
    sizes = sizes[:users]
    sizes[-1] -= sizes.sum() - rows
    starts = np.repeat(np.cumsum(sizes) - sizes, sizes)
    cols: dict = {
        "user_id": pa.array(np.repeat(np.arange(1, users + 1) * 7919,
                                      sizes)),
        "seq": pa.array((np.arange(rows) - starts).astype(np.int32)),
    }
    expected = dict(cols)
    name, expected["name"] = _cells(
        pa, np, gen, _words(pa, np, gen, rows, VALUE_BYTES), kinds,
        absent=gen.random(rows) < ABSENT)
    score, expected["score"] = _cells(
        pa, np, gen, pa.array(gen.integers(-10 ** 12, 10 ** 12, rows)),
        kinds, absent=gen.random(rows) < ABSENT)
    cols.update(name=name, score=score)
    offsets, _ = _collection_offsets(np, gen, rows)
    tags, tags_exp = _cells(pa, np, gen,
                            _words(pa, np, gen, int(offsets[-1]), 8), kinds)
    cols["tags"] = pa.ListArray.from_arrays(offsets, tags)
    expected["tags"] = pa.ListArray.from_arrays(offsets, tags_exp)
    offsets, position = _collection_offsets(np, gen, rows)
    keys = pa.array(np.array([f"k{i}" for i in range(COLLECTION_CELLS[1])])
                    [position])
    props, props_exp = _cells(
        pa, np, gen, _words(pa, np, gen, int(offsets[-1]), 8), kinds)
    cols["props"] = pa.MapArray.from_arrays(offsets, keys, props)
    expected["props"] = pa.MapArray.from_arrays(offsets, keys, props_exp)
    pk_wt = _WT0 + gen.integers(0, 10 ** 9, rows)
    pk_ttl = gen.integers(60, 86_400, rows)
    no_ttl = gen.random(rows) >= EXPIRING
    deleted = gen.random(rows) < ROW_DELETIONS
    kinds["row_deletion"] = int(deleted.sum())
    nulls = pa.nulls(rows, pa.int64())
    cols.update(pk_writetime=pa.array(pk_wt),
                pk_ttl=pa.array(pk_ttl, mask=no_ttl),
                pk_expires_at=pa.array(_EXP0 + pk_ttl, mask=no_ttl))
    expected.update(pk_writetime=cols["pk_writetime"], pk_ttl=nulls,
                    pk_expires_at=nulls)
    cols["row_deletion_ts"] = expected["row_deletion_ts"] = pa.array(
        pk_wt + gen.integers(0, 1000, rows), mask=~deleted)
    text, long = _cell_type(pa, pa.string()), _cell_type(pa, pa.int64())
    schema = pa.schema([
        ("user_id", pa.int64()), ("seq", pa.int32()), ("name", text),
        ("score", long), ("tags", pa.list_(text)),
        ("props", pa.map_(pa.string(), text)),
        ("pk_writetime", pa.int64()), ("pk_ttl", pa.int64()),
        ("pk_expires_at", pa.int64()), ("row_deletion_ts", pa.int64()),
    ])
    table = pa.Table.from_arrays([cols[f.name] for f in schema],
                                 schema=schema)
    os.makedirs(out_dir, exist_ok=True)
    # random row order, so the sink's sort has work to do
    pq.write_table(table.take(gen.permutation(rows)),
                   os.path.join(out_dir, "cells.parquet"))
    pq.write_table(pa.Table.from_arrays([expected[f.name] for f in schema],
                                        schema=schema), expected_path)
    return {
        "rows": rows,
        "partitions": users,
        "cells": sum(kinds[k] for k in ("expiring", "tombstone", "normal")),
        "rows_by_kind": kinds,
        "input": files_digest(out_dir),
        "expected_path": expected_path,
    }


# ---------------------------------------------------------------------------
# Documents (curate_corpus)
# ---------------------------------------------------------------------------

_EN_STOP = ["the", "a", "of", "and", "to", "in", "is", "it", "for", "on"]
_DE_STOP = ["der", "die", "das", "und", "ist", "ein", "zu", "mit", "von"]


#: document shares: verbatim copies of an earlier document, copies with two
#: words changed, German-stopword prose, short punctuation-heavy text
EXACT_DUP = 0.10
NEAR_DUP = 0.10
OFF_LANG = 0.05
LOW_QUALITY = 0.05
VOCAB = 4000


def documents(rng: random.Random, out_dir: str, *, docs: int) -> dict:
    """``docs`` documents: mostly English-stopword prose over a random
    vocabulary; ``EXACT_DUP`` of them copy an earlier document verbatim,
    ``NEAR_DUP`` copy one with two words changed (3-shingle Jaccard well
    above 0.5), ``OFF_LANG`` use German stopwords (dropped by the language
    gate) and ``LOW_QUALITY`` are short and punctuation-heavy (dropped by
    the quality gate)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    words = [_word(rng, rng.randint(3, 9)) for _ in range(VOCAB)]

    def prose(stop: list[str], n: int) -> list[str]:
        return [rng.choice(stop) if rng.random() < 0.3 else rng.choice(words)
                for _ in range(n)]

    texts: list[str] = []
    kinds = {"original": 0, "exact_dup": 0, "near_dup": 0, "off_lang": 0,
             "low_quality": 0}
    for _ in range(docs):
        r = rng.random()
        if texts and r < EXACT_DUP:
            texts.append(rng.choice(texts))
            kinds["exact_dup"] += 1
        elif texts and r < EXACT_DUP + NEAR_DUP:
            ws = rng.choice(texts).split(" ")
            for _ in range(2):
                ws[rng.randrange(len(ws))] = rng.choice(words)
            texts.append(" ".join(ws))
            kinds["near_dup"] += 1
        elif r < EXACT_DUP + NEAR_DUP + OFF_LANG:
            texts.append(" ".join(prose(_DE_STOP, rng.randint(40, 120))))
            kinds["off_lang"] += 1
        elif r < EXACT_DUP + NEAR_DUP + OFF_LANG + LOW_QUALITY:
            texts.append(" ".join(w + "!?;" for w in prose(_EN_STOP, 6)))
            kinds["low_quality"] += 1
        else:
            texts.append(" ".join(prose(_EN_STOP, rng.randint(40, 120))))
            kinds["original"] += 1
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "documents.parquet")
    pq.write_table(pa.table({"doc_id": pa.array(range(docs), pa.int64()),
                             "text": pa.array(texts, pa.string())}), path)
    return {
        "docs": docs,
        "rows_by_kind": kinds,
        "input": files_digest(out_dir),
        "path": path,
    }
