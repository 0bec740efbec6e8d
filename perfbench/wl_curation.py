"""Curation ingest, the second part of graph_curation: a seeded HTML
crawl with planted exact and near duplicates arrives in epochs. Each
epoch runs extract_html_text -> gopher_quality_filters ->
dedup_index_ingest_batch (against a persisted index built at set-up)
-> token_count of the survivors; one compact_dedup_index runs at the
end of the phase.

Survivors are checked against the planted structure after the timed
phase. MinHash banding is approximate, so a near copy that slips
through is not an error: it is counted in the ``dedup.near_recall``
ratio. Every other deviation is: a dropped first-of-family document, a
surviving low-quality document, a surviving exact copy, or a wrong
token count.
"""

from __future__ import annotations

import os
import time

import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import gen, stats

EPOCHS = 1  # per measured phase
PER_EPOCH = 200
HISTORY = 150
WARMUP_DOCS = 50


def _du(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``."""
    size = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(root, n))
            files += 1
    return size, files


class CurationWorkload:
    op_unit = "documents"

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.epoch = 0  # next epoch to ingest; batch id = epoch + 1
        self.epochs: list[dict] = []  # per ingested epoch: timings, rows
        self.phases: list[dict] = []  # per measured phase: epoch range, index I/O

    def load(self) -> None:
        from graphlite_spark.operators.dedup import build_dedup_index

        ctx, spark = self.ctx, self.ctx.spark
        data = ctx.tmp / "data"
        data.mkdir(parents=True, exist_ok=True)
        # epochs for four measured phases: a traced run measures four times
        corpus = gen.html_corpus(ctx.seed, history=HISTORY,
                                 epochs=4 * EPOCHS, per_epoch=PER_EPOCH)
        hist = corpus["history"]
        pq.write_table(pa.table({"doc_id": [r[0] for r in hist],
                                 "text": [r[4] for r in hist]}),
                       data / "history.parquet")
        for k, rows in enumerate(corpus["epochs"]):
            pq.write_table(pa.table({"doc_id": [r[0] for r in rows],
                                     "html": [r[1] for r in rows]}),
                           data / f"epoch{k}.parquet")
        warm = gen.html_corpus(ctx.seed, history=10, epochs=1,
                               per_epoch=WARMUP_DOCS)["epochs"][0]
        pq.write_table(pa.table({"doc_id": [r[0] for r in warm],
                                 "html": [r[1] for r in warm]}),
                       data / "warmup.parquet")
        self.index = str(data / "index")
        build_dedup_index(spark.read.parquet(str(data / "history.parquet")),
                          self.index)
        self.corpus, self.data = corpus, data

    def warmup(self) -> None:
        """Extract, filter and count a small separate batch, so Python
        workers are started before the timed epoch. The index is not
        touched."""
        from graphlite_spark.operators.html import extract_html_text
        from graphlite_spark.operators.text import (
            gopher_quality_filters,
            token_count,
        )

        batch = self.ctx.spark.read.parquet(str(self.data / "warmup.parquet"))
        ex = extract_html_text(batch)
        gopher_quality_filters(ex).collect()
        token_count(ex).collect()

    def measure(self, seconds: float, traced: bool) -> stats.Phase:
        """EPOCHS ingest epochs and one compaction (the phase is a fixed
        amount of work; ``seconds`` does not extend it)."""
        from graphlite_spark.operators.dedup import (
            compact_dedup_index,
            dedup_index_ingest_batch,
        )
        from graphlite_spark.operators.html import extract_html_text
        from graphlite_spark.operators.text import (
            gopher_quality_filters,
            token_count,
        )

        ctx, spark, tr = self.ctx, self.ctx.spark, self.ctx.tracer
        first = self.epoch
        before = _du(self.index) if traced else (0, 0)
        t0 = time.perf_counter()
        for _ in range(EPOCHS):
            k, op = self.epoch, next(ctx.op_ids)
            rec = {"epoch": k, "op_id": op}
            a = time.perf_counter()
            with ctx.probe.op(op, "epoch", sql=True), tr.span("op.epoch", op):
                batch = spark.read.parquet(str(self.data / f"epoch{k}.parquet"))
                with tr.span("html.extract_html_text", op):
                    ex = extract_html_text(batch)
                with tr.span("text.gopher_quality_filters", op):
                    flags = gopher_quality_filters(ex)
                good = ex.join(flags.filter("gopher_pass").select("doc_id"),
                               "doc_id", "left_semi").select("doc_id", "text")
                b = time.perf_counter()
                with tr.span("dedup.dedup_index_ingest_batch", op):
                    surv = dedup_index_ingest_batch(good, self.index, k + 1)
                c = time.perf_counter()
                with tr.span("tokenize.token_count", op):
                    rec["rows"] = [tuple(r) for r in token_count(surv).collect()]
                d = time.perf_counter()
            rec.update(ingest_s=c - b, count_s=d - c, epoch_s=d - a)
            self.epochs.append(rec)
            self.epoch += 1
        written = _du(self.index) if traced else (0, 0)
        dirs = set(os.listdir(self.index))
        c0 = time.perf_counter()
        with tr.span("index_store.compact_dedup_index"):
            compact_dedup_index(spark, self.index)
        compact_s = time.perf_counter() - c0
        wall = time.perf_counter() - t0
        rewritten = sum(_du(os.path.join(self.index, d))[0]
                        for d in set(os.listdir(self.index)) - dirs)
        self.phases.append(dict(
            lo=first, hi=self.epoch, compact_s=compact_s,
            bytes_written=written[0] - before[0],
            files_written=written[1] - before[1], bytes_rewritten=rewritten))
        docs = (self.epoch - first) * PER_EPOCH
        return stats.Phase(docs, wall,
                           [r["op_id"] for r in self.epochs[first:]])

    # -- correctness --------------------------------------------------
    def _verdicts(self):
        """Per ingested epoch: (docs, wrong, near_copies, near_missed,
        entering_dedup, index_hits, survivors) from the planted
        structure."""
        expected = gen.expected_survivors(self.corpus)
        seen_text = {fam: text for _, _, fam, _, text in self.corpus["history"]}
        out = []
        for rec in self.epochs:
            k = rec["epoch"]
            rows = self.corpus["epochs"][k]
            by_id = {r[0]: r for r in rows}
            got = {r[0]: r for r in rec["rows"]}
            wrong = []
            for doc_id in expected[k] - set(got):
                wrong.append(f"first-of-family doc {doc_id} dropped")
            near = missed = 0
            for doc_id, html, fam, ok, text in rows:
                if not ok:
                    if doc_id in got:
                        wrong.append(f"low-quality doc {doc_id} kept")
                    continue
                if doc_id in expected[k]:
                    continue
                # a planted duplicate: an exact copy of its family's
                # original, or a near copy one word away
                original = seen_text.get(fam) or _family_text(rows, fam, doc_id)
                if text == original:
                    if doc_id in got:
                        wrong.append(f"exact copy {doc_id} kept")
                else:
                    near += 1
                    missed += doc_id in got
            for doc_id, (_, n_tok, n_chars, _) in got.items():
                text = by_id[doc_id][4]
                if n_tok != len(text.split()) or n_chars != len(text):
                    wrong.append(f"doc {doc_id} token count {n_tok}/{n_chars}")
            entering = sum(1 for r in rows if r[3])
            hits = sum(1 for r in rows if r[3] and r[2] in seen_text)
            for doc_id in expected[k]:
                fam = by_id[doc_id][2]
                seen_text.setdefault(fam, by_id[doc_id][4])
            out.append((len(rows), wrong, near, missed, entering, hits,
                        len(got)))
        return out

    def check(self) -> tuple[int, int, list[str]]:
        attempted = failed = 0
        notes = []
        for docs, wrong, *_ in self._verdicts():
            attempted += docs
            failed += len(wrong)
            notes.extend(wrong[:5 - len(notes)])
        return attempted, failed, notes

    # -- metrics ------------------------------------------------------
    def end_to_end(self, report, phase: stats.Phase, i: int) -> None:
        report.add("docs_per_s", phase.ops / phase.wall_s, "1/s", phase.ops,
                   f"{EPOCHS} epoch(s) of {PER_EPOCH} documents + compaction")

    def layers(self, report, phase: stats.Phase, i: int) -> None:
        p = self.phases[i]
        recs = self.epochs[p["lo"]:p["hi"]]
        ver = self._verdicts()[p["lo"]:p["hi"]]
        report.add("dedup.ingest_epoch_s.p50",
                   stats.median([r["ingest_s"] for r in recs]), "s", len(recs))
        entering = sum(v[4] for v in ver)
        surv = sum(v[6] for v in ver)
        report.add("dedup.survivor_ratio", surv / entering, "ratio", entering,
                   f"{surv} survivors of {entering} quality-passing docs")
        hits = sum(v[5] for v in ver)
        report.add("dedup.index_hit_ratio", hits / entering, "ratio", entering,
                   f"{hits} docs of families already indexed")
        near, missed = sum(v[2] for v in ver), sum(v[3] for v in ver)
        report.add("dedup.near_recall", 1 - missed / near if near else None,
                   "ratio", near, f"{missed} of {near} planted near copies kept")
        docs = phase.ops
        report.add("index_store.bytes_written_per_doc",
                   p["bytes_written"] / docs, "B", docs)
        report.add("index_store.files_written", p["files_written"], "count")
        report.add("index_store.compact_s", p["compact_s"], "s", 1)
        report.add("index_store.bytes_rewritten", p["bytes_rewritten"], "B")
        report.add("tokenize.count_s", sum(r["count_s"] for r in recs), "s",
                   len(recs))
        probe = self.ctx.probe.ops
        for key in ("worker_start_ms", "worker_init_ms", "worker_run_ms"):
            report.add(f"python.{key}",
                       sum(probe[r["op_id"]].sql.get(key, 0.0) for r in recs),
                       "ms", len(recs), "MapInPandas SQL metric, summed")


def _family_text(rows, fam: int, doc_id: int) -> str | None:
    """Text of the earliest lower-id member of ``fam`` in this epoch:
    for a family born in the epoch, its original."""
    for r in rows:
        if r[2] == fam and r[0] < doc_id:
            return r[4]
    return None
