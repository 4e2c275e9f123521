"""Seeded inputs for the three workloads, and their reference digests.

Every input is cut from `data/documents.parquet`, a byte copy of the
`documents` table (doc_id, text, lang, source, n_chars; 5,000 docs) of
the repository's sf0.1 test corpus (TESTDATA.md), replicated as often
as a workload needs. Replica r is the base table with doc_id moved on
by r × 5,000 and the token `r<r>` appended to every text, rep 0
included: each replica is textually distinct, the way the corpus marks
its own near-copies (an appended `dup` token), while every other word,
and so language mix, stopword ratio and keep rate, stays the corpus's.
(Prefixing every word instead, as bench.py's size-scaling replicas do,
turns stopwords into non-words, and the quality stage then drops 29%
of the docs where the real corpus drops none.) doc_ids stay below one
day of warc_ts seconds, so a replicated batch commits one ds.

The workload seed only permutes: document order, which file or WARC
shard a document lands in, and the order in which stream deltas
arrive. Content never depends on it, so every seed has the same
expected output.
"""

from __future__ import annotations

import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

BASE_DOCS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "documents.parquet")
DAY_STRIDE = 10_000_000  # doc_id step that moves a page 115 crawl days on


def base_documents(n_docs: int) -> pa.Table:
    """The first n_docs of the replicated corpus, replica by replica."""
    base = pq.read_table(BASE_DOCS).replace_schema_metadata(None)
    n_base = base.num_rows
    reps = []
    for r in range(-(-n_docs // n_base)):
        text = pc.binary_join_element_wise(base.column("text"), f"r{r}", " ")
        reps.append(
            base.set_column(0, "doc_id", pc.add(base.column("doc_id"), r * n_base))
            .set_column(1, "text", text)
            .set_column(4, "n_chars", pc.utf8_length(text).cast(pa.int64()))
        )
    return pa.concat_tables(reps).slice(0, n_docs)


def _with_doc_ids(table: pa.Table, ids: np.ndarray) -> pa.Table:
    return table.set_column(table.schema.get_field_index("doc_id"), "doc_id", pa.array(ids, pa.int64()))


def spread_days(table: pa.Table, days: int) -> pa.Table:
    """Move doc d to the (d % days)-th crawl day: pages derive warc_ts
    from doc_id, so adding (d % days) * DAY_STRIDE makes the sinks
    commit `days` ds partitions."""
    ids = table.column("doc_id").to_numpy()
    return _with_doc_ids(table, ids + (ids % days) * DAY_STRIDE)


def permuted_chunks(table: pa.Table, n_chunks: int, seed: int) -> list[pa.Table]:
    """Shuffle rows by `seed`, then cut into n_chunks near-equal slices."""
    perm = np.random.default_rng(seed).permutation(table.num_rows)
    shuffled = table.take(pa.array(perm))
    bounds = np.linspace(0, table.num_rows, n_chunks + 1).astype(int)
    return [shuffled.slice(lo, hi - lo) for lo, hi in zip(bounds[:-1], bounds[1:])]


def write_documents(table: pa.Table, sf_dir: str) -> str:
    """An sf-layout dir holding documents.parquet (what load_pages reads)."""
    os.makedirs(sf_dir, exist_ok=True)
    pq.write_table(table, os.path.join(sf_dir, "documents.parquet"))
    return sf_dir


def write_chunks(chunks: list[pa.Table], out_dir: str, stem: str) -> list[str]:
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for i, chunk in enumerate(chunks):
        path = os.path.join(out_dir, f"{stem}-{i:05d}.parquet")
        pq.write_table(chunk, path)
        paths.append(path)
    return paths


def write_warc_dir(docs: pa.Table, warc_dir: str, n_shards: int, seed: int, scratch: str) -> list[str]:
    """`.warc.gz` shards written by sources.warc.write_warc_shards.

    write_warc_shards assigns shards by doc_id % n_shards; to let the
    seed decide the assignment instead, each seeded slice of the docs
    is written as a one-shard crawl and renamed into place."""
    from fineweb_modal_spark.sources import warc as warc_mod

    os.makedirs(warc_dir, exist_ok=True)
    paths = []
    for i, chunk in enumerate(permuted_chunks(docs, n_shards, seed)):
        one = os.path.join(scratch, f"shard-{i}")
        write_documents(chunk, one)
        (src,) = warc_mod.write_warc_shards(
            os.path.join(one, "documents.parquet"), one, n_shards=1, compress=True
        )
        dst = os.path.join(warc_dir, f"crawl-{i:05d}-of-{n_shards:05d}.warc.gz")
        os.replace(src, dst)
        shutil.rmtree(one)
        paths.append(dst)
    return paths


def dir_bytes(path: str) -> tuple[int, int]:
    """(files, bytes) under a directory tree."""
    n = size = 0
    for root, _, files in os.walk(path):
        for f in files:
            n += 1
            size += os.path.getsize(os.path.join(root, f))
    return n, size


# ---------------------------------------------------------------------------
# Order-insensitive output digests
# ---------------------------------------------------------------------------
#
# A row contributes h("doc_id|keep|md5(scrubbed_text)"): the first 15 hex
# digits of its md5 as an integer. The digest of a table is (rows, kept,
# sum of h), so it ignores row order and file layout but changes if any
# row is dropped, duplicated or altered. Committed output is read off
# its parquet files, so checking costs no Spark job.

def row_hash(doc_id: int, keep: bool | None, text_md5: str | None) -> int:
    keep_s = "null" if keep is None else ("true" if keep else "false")
    key = f"{doc_id}|{keep_s}|{text_md5 or '-'}"
    return int(hashlib.md5(key.encode()).hexdigest()[:15], 16)


def _md5(text: str | None) -> str | None:
    return None if text is None else hashlib.md5(text.encode()).hexdigest()


def committed_files(out_dir: str) -> list[str]:
    """Data files of the committed ds=... partitions (not the manifest,
    not staging, not hidden or marker files)."""
    return sorted(
        os.path.join(root, f)
        for root, _, files in os.walk(out_dir)
        if os.path.basename(root).startswith("ds=")
        for f in files
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    )


def committed_digest(out_dir: str) -> tuple[int, int, int]:
    """Digest of the table committed under out_dir, read off the files."""
    rows = kept = h = 0
    for path in committed_files(out_dir):
        t = pq.read_table(path, columns=["doc_id", "keep", "scrubbed_text"])
        for doc_id, keep, text in zip(*(t.column(i).to_pylist() for i in range(3))):
            rows += 1
            kept += bool(keep)
            h += row_hash(doc_id, keep, _md5(text))
    return rows, kept, h


def manifest_rows(out_dir: str, op: str) -> tuple[int, int]:
    """(manifest rows, sum of n_rows over rows with this op)."""
    mdir = os.path.join(out_dir, "_manifest")
    n = total = 0
    for f in sorted(os.listdir(mdir)):
        if f.endswith(".parquet") and not f.startswith(("_", ".")):
            t = pq.read_table(os.path.join(mdir, f)).to_pydict()
            n += len(t["n_rows"])
            total += sum(r for r, o in zip(t["n_rows"], t.get("op", [None] * len(t["n_rows"]))) if o == op)
    return n, total


def oracle_digest(docs: pa.Table, scratch: str, cache_dir: str) -> tuple[int, int, int]:
    """Digest of what the DuckDB oracle of the `pipeline_scored` gate
    (__spark_entry__.oracle_sql()) says the pipeline must output for
    these documents.

    The result is cached under cache_dir, keyed by the oracle's SQL and
    the documents' bytes: the documents are the same for every seed, so
    a checkout pays for the oracle once, and any change to either
    recomputes it."""
    import json

    import duckdb

    import __spark_entry__ as entry

    sql = entry.oracle_sql()["pipeline_scored"]
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, docs.schema) as w:
        w.write_table(docs)
    key = hashlib.sha256(sql.encode() + sink.getvalue().to_pybytes()).hexdigest()[:24]
    path = os.path.join(cache_dir, f"oracle-{key}.json")
    try:
        with open(path) as f:
            return tuple(json.load(f))
    except (OSError, ValueError):
        pass
    sf_dir = write_documents(docs, scratch)
    con = duckdb.connect()
    try:
        docs_path = os.path.join(sf_dir, "documents.parquet").replace("'", "''")
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs_path}')")
        rows = con.execute(f"SELECT doc_id, keep, md5(scrubbed_text) FROM ({sql})").fetchall()
    finally:
        con.close()
    digest = (len(rows), sum(1 for _, keep, _ in rows if keep), sum(row_hash(*r) for r in rows))
    os.makedirs(cache_dir, exist_ok=True)
    with open(path + ".tmp", "w") as f:
        json.dump(digest, f)
    os.replace(path + ".tmp", path)
    return digest
