"""``batch_curation``: registry queries over a generated documents table.

Set-up (timed into ``setup_s``): Spark session, then one first-touch run
of every query (``collect``), which also builds the app-scoped fixtures
under ``.tmp/``. Those rows are checked against each query's DuckDB
oracle twin. Measured: whole passes over the query list, each query
writing to the noop sink. The pass count is ``--seconds`` divided by the
time of one pass on a 4-core host (``PASS_S``), so every run does the same
work and lasts about ``--seconds``; a count set by a clock would flip
between two and three passes and move the means with the JIT warm-up.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np

import gen
from spans import FAILED_S, Tracer, p50

N_DOCS = 120
PASS_S = 6.0  # one measured pass at N_DOCS on a 4-core host
FAMILIES = {
    "dedup": ("dedup_minhash_lsh",),
    "decode": (
        "multimodal_mp1_decode", "multimodal_mpeg2_decode",
        "multimodal_mpeg1_pframe_decode", "scan_zstd_jsonl",
    ),
    "text": ("curation_gopher_rules", "text_perplexity_score", "chunk_tokens_window"),
}
QUERIES = [q for qs in FAMILIES.values() for q in qs]


def oracle_rows(sf_dir: str) -> dict[str, list[tuple]]:
    """Each query's DuckDB oracle answer, normalized as tools/check_parity.py
    does (HUGEINT columns fetched as floats, rows sorted by column name)."""
    import duckdb

    from articulation_vector_db_api_spark.registry import load_all
    from tools.check_parity import _norm_rows

    reg = load_all()
    con = duckdb.connect()
    path = os.path.join(sf_dir, "documents.parquet")
    con.sql(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
    out = {}
    for q in QUERIES:
        res = con.sql(reg[q].oracle)
        cols = [d[0] for d in res.description]
        hug = {i for i, t in enumerate(res.types) if "HUGEINT" in str(t).upper()}
        rows = [
            tuple(float(v) if i in hug and v is not None else v for i, v in enumerate(r))
            for r in res.fetchall()
        ]
        out[q] = _norm_rows(cols, rows)
    con.close()
    return out


class Run:
    def __init__(self, seed: int, seconds: float, traced: bool, work: str):
        self.seed, self.seconds, self.traced = seed, seconds, traced
        self.dir = os.path.join(work, "batch_curation")
        self.sf_dir = os.path.join(self.dir, "sf_bench")
        self.tracer = Tracer()
        self.ops: list[dict] = []
        self.profile: dict[str, dict[str, float]] = {}

    def generate(self) -> str:
        shutil.rmtree(self.dir, ignore_errors=True)
        gen.write_documents(self.sf_dir, gen.documents(self.seed, N_DOCS))
        self.expected = oracle_rows(self.sf_dir)
        return gen.tree_digest(self.sf_dir)

    def setup(self, spark) -> None:
        """First touch of every query: fixtures plus the checked rows."""
        from articulation_vector_db_api_spark.registry import load_all
        from tools.check_parity import _norm_rows

        self.spark, self.reg = spark, load_all()
        self.check_s = 0.0
        for q in QUERIES:
            df = self.reg[q].fn(spark, self.sf_dir)
            rows = [tuple(r) for r in df.collect()]
            t = time.perf_counter()
            ok = _norm_rows(df.columns, rows) == self.expected[q]
            self.ops.append({"kind": q, "ok": ok, "setup": True})
            self.check_s += time.perf_counter() - t

    def window(self, label: str) -> list[dict]:
        """The measured passes; with tracing on, a UDF profile per query run."""
        from profiles import take

        records = []
        for _ in range(max(1, round(self.seconds / PASS_S))):
            for q in QUERIES:
                t0 = time.perf_counter()
                try:
                    self.reg[q].fn(self.spark, self.sf_dir).write.format("noop").mode(
                        "overwrite"
                    ).save()
                    ok = True
                except Exception as e:  # noqa: BLE001 - a failed op is reported
                    print(f"{q} failed: {e!r}", flush=True)
                    ok = False
                records.append({"kind": q, "ok": ok, "wall": time.perf_counter() - t0})
                if self.tracer.enabled:
                    prof = take(self.spark, os.path.join(self.dir, "profile"))
                    acc = self.profile.setdefault(q, {})
                    for k, v in prof.items():
                        acc[k] = acc.get(k, 0.0) + v
        self.ops.extend(records)
        return records

    def stop(self) -> None:
        """Remove the app-scoped fixtures this run built under ``.tmp/``."""
        app = self.spark.sparkContext.applicationId
        tmp = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".tmp")
        for name in os.listdir(tmp) if os.path.isdir(tmp) else []:
            if app in name:
                path = os.path.join(tmp, name)
                if os.path.isdir(path):
                    shutil.rmtree(path, ignore_errors=True)
                else:
                    os.unlink(path)

    def verify(self) -> None:
        pass  # rows were checked at set-up; measured runs only count errors

    @staticmethod
    def _wall(rec: dict) -> float:
        return rec["wall"] if rec["ok"] else FAILED_S

    def e2e(self, records: list[dict], setup_s: float) -> dict[str, float]:
        walls = [self._wall(r) for r in records]
        return {
            "setup_s": setup_s,
            "p50_s": float(np.median(walls)),
            "docs_per_s": N_DOCS * len(walls) / sum(walls),
        }

    def summary(self, records: list[dict]) -> dict[str, float]:
        out = {"passes": len(records) / len(QUERIES)}
        for fam, qs in FAMILIES.items():
            walls = [self._wall(r) for r in records if r["kind"] in qs]
            out[f"{fam}_docs_per_s"] = N_DOCS * len(walls) / sum(walls)
        return out

    def per_layer(self, b: list[dict], untraced_p50: float, el) -> dict[str, float]:
        prof = self.profile

        def total(fam: str, key: str = "total_s") -> float:
            return sum(prof.get(q, {}).get(key, 0.0) for q in FAMILIES[fam])

        out = {
            f"batch.{q}_s": p50([r["wall"] for r in b if r["kind"] == q and r["ok"]])
            for q in QUERIES
        }
        out.update(
            {
                "udf.decode_python_s": total("decode"),
                "udf.decode_mp1_self_s": prof.get("multimodal_mp1_decode", {}).get("mp2_s", 0.0),
                "udf.decode_mpeg2_self_s": prof.get("multimodal_mpeg2_decode", {}).get(
                    "mpeg2_s", 0.0
                ),
                "udf.decompress_zstd_self_s": prof.get("scan_zstd_jsonl", {}).get("zstd_s", 0.0),
                "udf.dedup_python_s": total("dedup"),
                "udf.text_python_s": total("text"),
                "trace.overhead_s": self.e2e(b, 0.0)["p50_s"] - untraced_p50,
            }
        )
        return out
