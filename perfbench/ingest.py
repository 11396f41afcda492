"""The ingest workload: incremental enrichment of the persisted
containment and MinHash band indexes, driven through the public
functions of ``operators/dedup.py`` and ``sinks/versioned.py``.

The seed draws ``SETUP_BATCHES + TIMED_BATCHES`` batches of
``BATCH_DOCS`` docs from the ``doc_id % 5 == 4`` slice; set-up indexes
the rest of the corpus and ingests the first ``SETUP_BATCHES`` of them
(they pay JIT, the band fold included, before timing starts). One
trigger is: containment probe, containment append, compaction policy
on the containment index, band probe, band append, compaction policy
on the band index and on its ``_keys`` sibling. The policy runs as the
program's live loops run it (``queries/streamingq.py``): ``max_links``
3 with the index block size for containment, 2 for the band index and
its sibling. Set-up leaves the containment chain at three links and
the band chains, folded on the second set-up batch, at one, so the
timed triggers fold containment on 1 and 4, the band chains on 2 and 4,
and trigger 3 only appends; the probes read chains of up to three
(containment) or two (band) links.
The timed sequence is fixed; ``--seconds`` does not lengthen it.

The output check: the union of the containment emissions of all
batches equals ``dedup-contain-incr``'s DuckDB oracle restricted to the
pairs that touch an ingested doc, and the final band-index chain equals
a one-shot ``minhash_bands`` of the corpus.
Both hold for every seed.
"""

from __future__ import annotations

import os
import random
import time
import traceback
from collections import Counter

from pyspark.sql import functions as F

from check import Oracle, compare
from itdb_spark.operators.dedup import (
    _INDEX_BLOCK_BYTES,
    append_band_index,
    append_containment_index,
    band_collision_counts_persisted,
    containment_probe_persisted,
    minhash_bands,
    minhash_signatures,
    persist_band_index,
    persist_containment_index,
)
from itdb_spark.queries.pipeline import corpus
from itdb_spark.sinks.versioned import chain_versions, maybe_compact_chain, read_current_chain

BATCH_DOCS = 20
SETUP_BATCHES = 2
TIMED_BATCHES = 4
# maybe_compact_chain arguments per index, as the live loops pass them
POLICY = {
    "contain": {"max_links": 3,
                "writer_options": {"parquet.block.size": _INDEX_BLOCK_BYTES}},
    "band": {"max_links": 2},
    "band_keys": {"max_links": 2},
}

MB = 1024 * 1024


def _files(root: str) -> dict[str, int]:
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            out[p] = os.path.getsize(p)
    return out


class _Disk:
    """Bytes written under the index roots, found by diffing the file
    trees around each call (every version is written as new files)."""

    def __init__(self, roots: list[str]):
        self.roots = roots
        self.before: dict[str, int] = {}

    def snapshot(self) -> None:
        self.before = {p: s for r in self.roots for p, s in _files(r).items()}

    def written(self) -> int:
        now = {p: s for r in self.roots for p, s in _files(r).items()}
        return sum(s for p, s in now.items() if p not in self.before)

    def total(self) -> int:
        return sum(s for r in self.roots for s in _files(r).values())


def run_ingest(spark, registry, tracer, data_dir, oracle_cache, seed, paths, failures):
    work = paths["work"]
    croot = os.path.join(work, "contain")
    broot = os.path.join(work, "band")
    roots = {"contain": croot, "band": broot, "band_keys": broot + "_keys"}

    # inputs: the seed draws the batches from the slice; the first
    # SETUP_BATCHES are ingested in set-up. The rest of the corpus
    # (batch -1) is the base index. The corpus is computed once and staged
    # as parquet, so neither the base nor a batch plan carries lineage
    # into the corpus query.
    with tracer.op("inputs"), tracer.call("inputs", "stage_corpus"):
        rows = corpus(spark, data_dir).select("doc_id", "text").collect()
        text_bytes = {r.doc_id: len(r.text.encode()) for r in rows}
        ids = sorted(d for d in text_bytes if d % 5 == 4)
        random.Random(seed).shuffle(ids)
        drawn = ids[: (SETUP_BATCHES + TIMED_BATCHES) * BATCH_DOCS]
        batch_of = {d: i // BATCH_DOCS for i, d in enumerate(drawn)}
        staged = os.path.join(work, "corpus")
        spark.createDataFrame(
            [(r.doc_id, r.text, batch_of.get(r.doc_id, -1)) for r in rows],
            "doc_id long, text string, batch int",
        ).write.partitionBy("batch").parquet(staged)
        docs = spark.read.parquet(staged).drop("batch")
    batch_bytes = Counter()
    for d, b in batch_of.items():
        batch_bytes[b] += text_bytes[d]
    corpus_bytes = sum(text_bytes.values())

    t_base = time.perf_counter()
    with tracer.op("base"):
        with tracer.call("base", "read_base"):
            base = spark.read.parquet(staged).where(F.col("batch") == -1).drop("batch")
        with tracer.call("base", "persist_containment_index"):
            persist_containment_index(base, "doc_id", "text", croot)
        with tracer.call("base", "persist_band_index"):
            persist_band_index(minhash_bands(minhash_signatures(base, "doc_id", "text")), broot)
    base_build_s = time.perf_counter() - t_base

    disk = _Disk(list(roots.values()))
    emissions: list[tuple] = []
    emission_cols: list[str] = []
    stats = Counter()
    links_max = 0
    trigger_walls: list[float] = []
    op_walls: list[float] = []
    attempted = 0
    t_first = None
    t_warm = time.perf_counter()

    for b in range(SETUP_BATCHES + TIMED_BATCHES):
        timed = b >= SETUP_BATCHES
        if timed and t_first is None:
            t_first = time.perf_counter()
            warmup_s = t_first - t_warm
        op = f"b{b}"
        step: dict[str, float] = Counter()
        written = 0

        def call(fn, key, thunk, index=None):
            nonlocal written, links_max
            if index is not None:
                links_max = max(links_max, len(chain_versions(roots[index])))
            disk.snapshot()
            with tracer.call(op, fn, timed=timed) as attrs:
                t = time.perf_counter()
                out = thunk()
                step[key] += time.perf_counter() - t
                if index is not None:
                    attrs["index"] = index
            written += disk.written()
            return out

        attempted += 1
        o = time.perf_counter()
        try:
            with tracer.op(op):
                with tracer.call(op, "read_batch"):
                    batch = spark.read.parquet(staged).where(F.col("batch") == b).drop("batch")
                pairs = call(
                    "containment_probe_persisted", "containment_probe_s",
                    lambda: _collect(containment_probe_persisted(
                        spark, croot, batch, "doc_id", "text")),
                )
                call("append_containment_index", "containment_append_s",
                     lambda: append_containment_index(
                         spark, croot, batch, "doc_id", "text", tag=op))
                folds = [call("maybe_compact_chain", "compact_s",
                              lambda: _compact(spark, roots, "contain"), "contain")]
                bands = minhash_bands(minhash_signatures(batch, "doc_id", "text"))
                call("band_collision_counts_persisted", "band_probe_s",
                     lambda: band_collision_counts_persisted(spark, broot, bands).collect())
                call("append_band_index", "band_append_s",
                     lambda: append_band_index(spark, broot, bands, tag=op))
                for index in ("band", "band_keys"):
                    folds.append(call("maybe_compact_chain", "compact_s",
                                      lambda i=index: _compact(spark, roots, i),
                                      index))
        except Exception:
            failures.append((op, "raised:\n" + traceback.format_exc()))
            continue
        emission_cols = pairs[0]
        emissions += pairs[1]
        if timed:
            trigger_walls.append(sum(step.values()))
            op_walls.append(time.perf_counter() - o)
            stats.update(step)
            stats["pairs"] += len(pairs[1])
            stats["docs"] += BATCH_DOCS
            stats["folds"] += sum(1 for f in folds if f)
            stats["written"] += written
            stats["rewritten"] += sum(f for f in folds if f)
            stats["timed_bytes"] += batch_bytes[b]
    index_bytes = disk.total()

    # output check (untimed)
    attempted += 2
    oracle = Oracle(data_dir, oracle_cache)
    try:
        # the oracle's pairs that touch an ingested doc; the other slice
        # docs were indexed with the base
        cols, rows = oracle.expected(registry["dedup-contain-incr"].oracle)
        i1, i2 = cols.index("id1"), cols.index("id2")
        ingested = {str(d) for d in batch_of}
        want = [r for r in rows if r[i1] in ingested or r[i2] in ingested]
        reason = compare((emission_cols, emissions), (cols, want))
    except Exception:
        reason = "check raised:\n" + traceback.format_exc()
    oracle.close()
    if reason:
        failures.append(("containment emissions", reason))
    try:
        with tracer.op("check"), tracer.call("check", "band_chain"):
            cols = ["doc", "band", "band_hash"]
            got = Counter(tuple(r) for r in read_current_chain(spark, broot).select(*cols).collect())
            want = Counter(
                tuple(r)
                for r in minhash_bands(minhash_signatures(docs, "doc_id", "text"))
                .select(*cols).collect()
            )
        reason = None if got == want else (
            f"band chain differs: {sum((got - want).values())} unexpected, "
            f"{sum((want - got).values())} missing rows"
        )
    except Exception:
        reason = "check raised:\n" + traceback.format_exc()
    if reason:
        failures.append(("band chain", reason))

    if not trigger_walls:
        raise RuntimeError("no timed trigger completed")
    per = {k: stats[k] for k in ("containment_probe_s", "containment_append_s",
                                 "band_probe_s", "band_append_s", "compact_s")}
    return {
        "first_timed": t_first,
        "attempted": attempted,
        "wall_s": sum(trigger_walls),
        "ops": trigger_walls,
        "passes": 1,
        "per_op": {"trigger": trigger_walls},
        "op_walls": {"trigger": op_walls},
        "layers": {
            "queries.warmup_s": warmup_s,
            "operators.dedup.base_build_s": base_build_s,
            **{f"operators.dedup.{k}": v for k, v in per.items() if k != "compact_s"},
            "operators.dedup.probe_pairs_per_doc": stats["pairs"] / max(stats["docs"], 1),
            "sinks.versioned.compact_s": per["compact_s"],
            "sinks.versioned.folds": stats["folds"],
            "sinks.versioned.bytes_rewritten_mb": stats["rewritten"] / MB,
            "sinks.versioned.chain_links_max": links_max,
            "sinks.versioned.space_amp": index_bytes / corpus_bytes,
            "sinks.versioned.write_amp": stats["written"] / max(stats["timed_bytes"], 1),
        },
    }


def _collect(df) -> tuple[list[str], list[tuple]]:
    return df.columns, [tuple(r) for r in df.collect()]


def _compact(spark, roots, index) -> int:
    """Run the compaction policy on one index; returns the bytes the fold
    rewrote, 0 when the chain was under the threshold."""
    stats = maybe_compact_chain(spark, roots[index], vacuum_keep=1,
                                vacuum_min_age_s=0, **POLICY[index])
    return stats["bytes_before"] if stats else 0
