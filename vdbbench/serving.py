"""``search_read``: reads through the HTTP tier.

Set-up (timed into ``setup_s``): Spark session; IVF store build over the
generated vectors; ``server.serve``; POST /ingest of a mixed-format batch
(PDF, .txt, .html, .jsonl.zst and three planted corrupt files) into the
served chunk table; ``EngineAPI.warm``; one warm-up /search and
/vectors/query. The stored chunk table itself is a generated input.

Measured: one closed-loop client sending about ``--seconds`` worth of
requests, 75% POST /search
(top_k 5) and 25% POST /vectors/query (top_k 5, nprobe 2). An open loop at
half the 4-client capacity (1.3 of 2.5-2.6 req/s on a 4-core host) gave
about 16 requests per 12 s window whose overlaps varied from run to run:
its p50 spread between seeds was 0.29 of the median, so the measured
client sends one request at a time.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import time
import urllib.error
import urllib.request

import numpy as np
import pyarrow.parquet as pq

import gen
import refs
from spans import FAILED_S, HEADER, Tracer, durations, p50, self_times

N_SOURCES = 40
CHUNKS_PER_SOURCE = 500  # 20,000 stored chunks
N_VECTORS = 2048
N_CELLS = 8
TOP_K = 5
NPROBE = 2
REQ_PER_S = 2.0  # one client completes about this many of the mix's requests per second


def _post(port: int, path: str, payload: dict, header: str | None = None):
    req = urllib.request.Request(
        f"http://127.0.0.1:{port}{path}",
        json.dumps(payload).encode(),
        {"Content-Type": "application/json"},
    )
    if header:
        req.add_header(HEADER, header)
    try:
        with urllib.request.urlopen(req, timeout=170) as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:
        return e.code, {"detail": e.read().decode("utf-8", "replace")}


class Run:
    def __init__(self, seed: int, seconds: float, traced: bool, work: str):
        self.seed, self.seconds, self.traced = seed, seconds, traced
        self.dir = os.path.join(work, "search_read")
        self.tracer = Tracer()
        self.groups: list[tuple[str, str]] = []  # (request id, job group)
        self.ops: list[dict] = []  # every checked operation
        self.ingest_profile: dict[str, float] = {}
        self.diag: dict[str, float] = {}

    # -- inputs ---------------------------------------------------------------
    def generate(self) -> str:
        shutil.rmtree(self.dir, ignore_errors=True)
        self.inp = gen.serving_inputs(
            self.seed, N_SOURCES, CHUNKS_PER_SOURCE, N_VECTORS
        )
        self.table = os.path.join(self.dir, "chunks")
        self.store = os.path.join(self.dir, "ivf")
        self.vec_file = os.path.join(self.dir, "vectors.parquet")
        self.ingest_dir = os.path.join(self.dir, "ingest")
        gen.write_chunk_table(self.table, self.inp.sources)
        gen.write_vectors(self.vec_file, self.inp.vectors)
        gen.write_files(self.ingest_dir, self.inp.ingest_files)
        return gen.json_digest(
            [
                gen.tree_digest(self.dir),
                self.inp.queries,
                gen.array_digest(self.inp.query_vecs),
                self.inp.requests,
            ]
        )

    # -- tracing hooks ----------------------------------------------------------
    def _install(self, spark) -> None:
        from articulation_vector_db_api_spark import api as api_mod
        from articulation_vector_db_api_spark import server as server_mod
        from articulation_vector_db_api_spark.operators import ingest as ingest_mod
        from articulation_vector_db_api_spark.operators import vector_store as vs_mod

        t, sc = self.tracer, spark.sparkContext
        orig_post = server_mod._Handler.do_POST

        def do_post(handler):
            t.adopt(handler.headers.get(HEADER))
            with t.span("server"):
                return orig_post(handler)

        t.patch(server_mod._Handler, "do_POST", do_post)
        orig_search = api_mod.EngineAPI.search

        def search(api_self, *a, **k):
            if not t.enabled:
                return orig_search(api_self, *a, **k)
            group = f"bench-search-{len(self.groups)}"
            self.groups.append((t.current()[1], group))
            sc.setJobGroup(group, "bench search")
            try:
                with t.span("api.search"):
                    return orig_search(api_self, *a, **k)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)

        t.patch(api_mod.EngineAPI, "search", search)
        t.wrap(api_mod.EngineAPI, "vectors_query", "api.vquery")
        t.wrap(api_mod.EngineAPI, "ingest", "api.ingest")
        t.wrap(api_mod, "open_serving_index", "api.warm")
        t.wrap(api_mod, "topk_search_cached", "search.plan", t.timed_collect("search.exec"))
        t.wrap(vs_mod, "probe_ivf_store", "vstore.plan", t.timed_collect("vstore.exec"))

        # job phases of one ingest, recorded as the job description
        def phase(name):
            sc.setLocalProperty("spark.job.description", name)

        orig_ingest, orig_write = ingest_mod.ingest_corpus, ingest_mod.write_chunk_table

        def ingest_corpus(*a, **k):
            phase("ingest.extract")
            try:
                with t.span("ingest"):
                    return orig_ingest(*a, **k)
            finally:
                phase(None)

        def write_chunk_table(*a, **k):
            phase("ingest.write")
            try:
                with t.span("ingest.write"):
                    return orig_write(*a, **k)
            finally:
                phase("ingest.readback")

        t.patch(ingest_mod, "ingest_corpus", ingest_corpus)
        t.patch(ingest_mod, "write_chunk_table", write_chunk_table)

    # -- set-up ---------------------------------------------------------------
    @contextlib.contextmanager
    def _step(self, name: str):
        t = time.perf_counter()
        with self.tracer.span(f"setup.{name}"):
            yield
        self.diag[f"setup_{name}_s"] = time.perf_counter() - t

    def setup(self, spark) -> None:
        from articulation_vector_db_api_spark.api import EngineAPI
        from articulation_vector_db_api_spark.operators.vector_store import write_ivf_store
        from articulation_vector_db_api_spark.server import ServerConfig, serve

        self.spark = spark
        if self.traced:
            self._install(spark)
            self.tracer.enabled = True
        with self._step("ivf_build"):
            write_ivf_store(spark.read.parquet(self.vec_file), self.store, N_CELLS)
        self.api = EngineAPI(spark=spark, data_dir=self.dir, chunk_table=self.table)
        self.server = serve(
            self.api,
            ServerConfig(table_path=self.table, vector_store_path=self.store),
        )
        self.port = self.server.server_address[1]
        with self._step("ingest"):
            status, body = _post(
                self.port, "/ingest", {"corpus_dir": self.ingest_dir, "glob": "*"},
                self.tracer.header(),
            )
        self.ops.append({"kind": "ingest", "status": status, "body": body})
        if self.traced:
            from profiles import take

            self.ingest_profile = take(spark, os.path.join(self.dir, "profile"))
        with self._step("warm"):
            self.api.warm()
        for kind, idx in (("search", 0), ("vquery", 0)):
            with self._step(f"first_{kind}"):
                status, body = _post(self.port, *self._request(kind, idx))
            self.ops.append({"kind": kind, "idx": idx, "status": status, "body": body})
        self.tracer.enabled = False

    def _request(self, kind: str, idx: int) -> tuple[str, dict]:
        if kind == "search":
            return "/search", {"query": self.inp.queries[idx], "top_k": TOP_K}
        vec = [float(x) for x in self.inp.query_vecs[idx]]
        return "/vectors/query", {"vector": vec, "top_k": TOP_K, "nprobe": NPROBE}

    # -- measurement ------------------------------------------------------------
    def window(self, label: str) -> list[dict]:
        """Send the first ``REQ_PER_S * seconds`` seeded requests one at a
        time: a fixed count keeps the /search to /vectors/query ratio of
        every run equal, where a clock would let it drift with speed."""
        t = self.tracer
        records = []
        n = max(4, round(REQ_PER_S * self.seconds))
        for i, (kind, idx) in enumerate(self.inp.requests[:n]):
            path, payload = self._request(kind, idx)
            rid = f"{label}{i}"
            start = time.perf_counter()
            try:
                with t.span("http", rid=rid):
                    status, body = _post(self.port, path, payload, t.header())
            except OSError as e:  # connection-level failure: a failed op
                status, body = 0, {"detail": repr(e)}
            records.append(
                {
                    "kind": kind, "idx": idx, "status": status, "body": body,
                    "latency": time.perf_counter() - start, "rid": rid,
                }
            )
        self.ops.extend(records)
        return records

    def count_jobs(self) -> None:
        """Spark jobs and tasks per traced /search, from the status
        tracker, keyed by request id (call before the session stops)."""
        st = self.spark.sparkContext.statusTracker()
        self.jobs_by_rid = {}
        for rid, group in self.groups:
            ids = list(st.getJobIdsForGroup(group))
            n_tasks = 0
            for j in ids:
                info = st.getJobInfo(j)
                for s in list(info.stageIds) if info else []:
                    si = st.getStageInfo(s)
                    n_tasks += si.numTasks if si else 0
            self.jobs_by_rid[rid] = (len(ids), n_tasks)

    def stop(self) -> None:
        self.server.shutdown()
        self.server.server_close()
        self.tracer.unwrap_all()

    # -- checks -------------------------------------------------------------------
    def verify(self) -> None:
        """Mark each op ``ok``; references are computed here, after every
        timed window."""
        self.rows = pq.read_table(self.table, columns=["id", "text", "source"]).to_pydict()
        ids, texts = self.rows["id"], self.rows["text"]
        keep = [i for i, x in enumerate(texts) if x]
        self.index = refs.SearchIndex([ids[i] for i in keep], [texts[i] for i in keep])
        self.text_of = dict(zip(ids, texts))
        self.n_index = len(self.index)
        self.ref_store = refs.VectorStore(self.inp.vectors, N_CELLS)
        self.version_dir = _current_version_dir(self.store)
        self.ties = 0
        for op in self.ops:
            try:
                op["ok"] = op["status"] == 200 and self._check(op)
            except (KeyError, TypeError, ValueError) as e:  # malformed response body
                op["ok"], op["error"] = False, repr(e)
        self.diag["search_tie_queries"] = self.ties

    def _check(self, op: dict) -> bool:
        body = op["body"]
        if op["kind"] == "search":
            got = [(c["id"], c["score"]) for c in body["chunks"]]
            want, tie = self.index.topk(self.inp.queries[op["idx"]], TOP_K)
            self.ties += tie
            op["scored"] = len(self.index)
            return refs.same_matches(got, want) and all(
                c["text"] == self.text_of[c["id"]] and c["id"].startswith(c["source"] + "_")
                for c in body["chunks"]
            )
        if op["kind"] == "vquery":
            got = [(m["id"], m["score"]) for m in body["matches"]]
            q = self.inp.query_vecs[op["idx"]]
            want, cells, op["scored"] = self.ref_store.topk(q, TOP_K, NPROBE)
            op["files"] = sum(
                f.endswith(".parquet")
                for c in cells
                for f in os.listdir(os.path.join(self.version_dir, f"cell={c}"))
            )
            return refs.same_matches(got, want)
        return self._check_ingest(body, self.rows)

    def _check_ingest(self, body: dict, table: dict) -> bool:
        inp = self.inp
        n_good, n_bad = len(inp.ingest_good), len(inp.ingest_corrupt)
        by_src: dict[str, list[tuple[str, str]]] = {}
        for i, x, src in zip(table["id"], table["text"], table["source"]):
            by_src.setdefault(src, []).append((i, x))

        def matches(src: str) -> bool:
            return sorted(by_src.get(src, [])) == sorted(
                refs.chunk_rows(src, inp.ingest_texts[src])
            )

        pdfs = [s for s in inp.ingest_texts if s.startswith(f"ing{self.seed}_p")]
        # .txt and .jsonl.zst extraction is exact; PDF and HTML extraction
        # is best-effort (operators/ingest.py), so PDF differences and
        # empty extractions are reported, not failed
        exact = [s for s in inp.ingest_texts if s not in pdfs]
        self.diag["pdf_extraction_mismatches"] = sum(not matches(s) for s in pdfs)
        self.diag["empty_extractions"] = sum(s not in by_src for s in inp.ingest_good)
        self.ingest_output = _ingested_files(self.table, inp.ingest_good)
        self.diag["ingest_stored_bytes_per_input_byte"] = self.ingest_output[1] / sum(
            len(b) for b in inp.ingest_files.values()
        )
        return (
            body.get("pdfs_processed") == inp.ingest_good
            and body.get("message")
            == f"Successfully ingested {n_good} PDFs ({n_bad} files failed)"
            and all(matches(s) for s in exact)
        )

    # -- metrics ----------------------------------------------------------------
    @staticmethod
    def latency(rec: dict) -> float:
        return rec["latency"] if rec.get("ok") else FAILED_S

    def e2e(self, records: list[dict], setup_s: float) -> dict[str, float]:
        lat = [self.latency(r) for r in records]
        search = [self.latency(r) for r in records if r["kind"] == "search"]
        return {
            "setup_s": setup_s,
            "p50_s": float(np.median(lat)),
            "docs_per_s": self.n_index * len(search) / sum(search),
        }

    def summary(self, records: list[dict]) -> dict[str, float]:
        """The workload's named metrics, printed beside the contract's."""
        s = sorted(self.latency(r) for r in records if r["kind"] == "search")
        v = sorted(self.latency(r) for r in records if r["kind"] == "vquery")
        return {
            "search_p50_s": float(np.median(s)) if s else 0.0,
            "search_p95_s": float(np.quantile(s, 0.95)) if s else 0.0,
            "search_n": len(s),
            "vquery_p50_s": float(np.median(v)) if v else 0.0,
            "vquery_n": len(v),
            "requests": len(records),
            **self.diag,
        }

    def per_layer(self, b: list[dict], untraced_p50: float, el) -> dict[str, float]:
        """Per-layer metrics of the traced window ``b``."""
        spans = self.tracer.spans
        rids = {r["rid"] for r in b}
        req = [s for s in spans if s.rid in rids]
        by_rid: dict[str, dict[str, float]] = {}
        for s in req:
            by_rid.setdefault(s.rid, {})[s.name] = s.end - s.start
        overhead = [
            d["http"] - d.get("api.search", d.get("api.vquery", 0.0))
            for d in by_rid.values() if "http" in d
        ]
        st = self_times(req)
        layer_self: dict[str, list[float]] = {}
        for s in req:
            layer_self.setdefault(s.name, []).append(st[s.span_id])
        counts = [self.jobs_by_rid[r] for r in rids if r in self.jobs_by_rid]
        searches = [r for r in b if r["kind"] == "search" and r.get("ok")]
        vq = [r for r in b if r["kind"] == "vquery" and r.get("ok")]
        out = {
            "server.overhead_s": p50(overhead),
            "api.search_s": p50(durations(req, "api.search")),
            "api.vquery_s": p50(durations(req, "api.vquery")),
            "api.warm_s": sum(durations(spans, "api.warm")),
            "api.warms": len(durations(spans, "api.warm")),
            "api.ingest_s": sum(durations(spans, "api.ingest")),
            "search.plan_s": p50(durations(req, "search.plan")),
            "search.exec_s": p50(durations(req, "search.exec")),
            "search.jobs_per_request": p50([c[0] for c in counts]),
            "search.tasks_per_request": p50([c[1] for c in counts]),
            "search.rows_scored_per_result": p50(
                [r["scored"] / max(1, len(r["body"]["chunks"])) for r in searches]
            ),
            "vstore.plan_s": p50(durations(req, "vstore.plan")),
            "vstore.exec_s": p50(durations(req, "vstore.exec")),
            "vstore.files_per_probe": p50([r["files"] for r in vq]),
            "ingest.extract_job_s": el.phase_seconds("ingest.extract"),
            "ingest.write_job_s": el.phase_seconds("ingest.write"),
            "ingest.readback_job_s": el.phase_seconds("ingest.readback"),
            "ingest.files_failed_per_attempted": len(self.inp.ingest_corrupt)
            / (len(self.inp.ingest_good) + len(self.inp.ingest_corrupt)),
            "udf.ingest_python_s": self.ingest_profile.get("total_s", 0.0),
            "udf.extract_pdf_text_self_s": self.ingest_profile.get("pdftext_s", 0.0),
            "trace.overhead_s": self.e2e(b, 0.0)["p50_s"] - untraced_p50,
            "trace.request_uncovered_s": p50(layer_self.get("http", [])),
            # self times of all spans of a request sum to its wall time
            # when every span hangs under the request's root
            "trace.request_accounted_share": sum(st.values())
            / max(1e-9, sum(durations(req, "http"))),
        }
        out["ingest.output_files"], out["ingest.bytes_written"] = self.ingest_output
        for name in ("server", "api.search", "api.vquery", "search.plan",
                     "search.exec", "vstore.plan", "vstore.exec", "api.warm"):
            out[f"self.{name}_s"] = p50(layer_self.get(name, []))
        return out


def _current_version_dir(store: str) -> str:
    with open(os.path.join(store, "_store_manifest.json")) as f:
        return os.path.join(store, "vectors", f"v{json.load(f)['current']}")


def _ingested_files(table: str, sources: list[str]) -> tuple[int, int]:
    files = size = 0
    for src in sources:
        d = os.path.join(table, f"source={src}")
        for f in os.listdir(d) if os.path.isdir(d) else []:
            if f.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(d, f))
    return files, size
