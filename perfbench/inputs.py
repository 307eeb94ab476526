"""Seeded benchmark inputs, generated once per (workload, seed, size) and
cached under the checkout's work directory. Generation is the benchmark's own
work and is never timed.

- ``receipts_spg1``: ``fixtures.write_corpus`` (SPG1 codec pages).
- ``receipts_bitmap``: ``fixtures.write_bitmap_corpus`` (raster pages).
- ``curate_capstone``: a ``documents`` table in the shape of the TPC-H-ish
  test data (doc_id, text, lang, source, n_chars; 10-99 words drawn from the
  same 30-word vocabulary), drawn from the seed, plus the capstone query's
  own DuckDB oracle result over it. The oracle's recursive-CTE connected
  components is too slow to run per iteration, so it runs once per seed.
"""

from __future__ import annotations

import json
import os
import random
import shutil
from pathlib import Path

# Documents per workload. Sized so one run, cold iteration included, fits the
# benchmark's time budget on 4 cores; a run measures several iterations.
SIZES = {"receipts_spg1": 600, "receipts_bitmap": 400, "curate_capstone": 1000}
CAPSTONE = "x_curate_interleaved_spans"
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
LANGS, LANG_WEIGHTS = ("en", "de", "es", "fr", "zh"), (41, 14, 15, 15, 15)
VERSION = 1


def dir_bytes(path: str | Path) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def write_documents(path: str, n_docs: int, seed: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(f"documents:{seed}")
    rows = []
    for i in range(n_docs):
        text = " ".join(rng.choices(VOCAB, k=rng.randint(10, 99)))
        rows.append(
            {
                "doc_id": i,
                "text": text,
                "lang": rng.choices(LANGS, LANG_WEIGHTS)[0],
                "source": f"src{i % 20}",
                "n_chars": len(text),
            }
        )
    pq.write_table(pa.Table.from_pylist(rows), path)


def capstone_oracle(docs_dir: str) -> list[list[str]]:
    """Canonical rows of the capstone query's DuckDB oracle over docs_dir."""
    import duckdb

    import engine.entry  # noqa: F401  (registers the query)
    from engine.relational import registry
    from tests.parity import canon_rows, duck_rows

    (q,) = [q for q in registry() if q.name == CAPSTONE]
    con = duckdb.connect()
    try:
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM '{docs_dir}/documents.parquet'"
        )
        return [list(r) for r in canon_rows(duck_rows(con, q.sql))]
    finally:
        con.close()


def _build(workload: str, seed: int, n_docs: int, d: str) -> dict:
    from engine import fixtures

    info: dict = {"workload": workload, "seed": seed, "n_docs": n_docs, "dir": d}
    if workload == "receipts_spg1":
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        spans_dir, _ = fixtures.write_corpus(d, n_docs, seed=seed, docs_per_file=150)
        lengths = pc.list_value_length(pq.read_table(spans_dir, columns=["spans"])["spans"])
        info["input_spans"] = int(pc.sum(lengths).as_py())
    elif workload == "receipts_bitmap":
        fixtures.write_bitmap_corpus(d, n_docs, seed=seed)
    else:
        write_documents(os.path.join(d, "documents.parquet"), n_docs, seed)
        with open(os.path.join(d, "oracle.json"), "w") as fh:
            json.dump(capstone_oracle(d), fh)
    info["input_bytes"] = dir_bytes(d)
    return info


def prepare(workload: str, seed: int, work: Path, n_docs: int | None = None) -> dict:
    """Inputs for one run; built on first use of (workload, seed, size)."""
    n_docs = n_docs or SIZES[workload]
    d = work / "inputs" / f"{workload}-v{VERSION}-s{seed}-n{n_docs}"
    meta = d / "inputs.json"
    if meta.exists():
        return json.loads(meta.read_text())
    tmp = d.with_name(d.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    info = _build(workload, seed, n_docs, str(tmp))
    info["dir"] = str(d)
    (tmp / meta.name).write_text(json.dumps(info))
    shutil.rmtree(d, ignore_errors=True)  # a half-built copy has no inputs.json
    tmp.rename(d)
    return info
