"""The ``etl`` workload: ``plans.pipeline.download`` over a seeded mix of
small documents served over HTTP and long documents read from ``file://``.

One operation is one ``download()`` call, webdataset sink, into a fresh
output folder. The URL list holds

- ``N_HTTP`` small FAKEDOC documents (1-3 pages) served by a stdlib HTTP
  server inside the benchmark process, each after a seeded delay standing
  in for network round-trip time; about 5% answer 404, carry corrupt bytes
  or an ``X-Robots-Tag: noai`` header;
- ``N_FILE`` long FAKEDOC documents (20-60 pages) on local disk, whose pages
  carry image markers (some undersized, some of extreme aspect, some pages
  with too many) and some pages below ``min_words_per_page``.

The HTTP part is fetch-bound and the file part extract- and filter-bound,
so one operation crosses every layer ``build_pipeline`` composes. Every
expectation (per-URL status, per-page text, word and image counts, the
success set, document sha256) comes from the generator's own page specs.
"""

from __future__ import annotations

import dataclasses
import hashlib
import json
import shutil
import tarfile
import threading
import time
from dataclasses import dataclass, field
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from pathlib import Path

import numpy as np

N_HTTP = 80
N_FILE = 8
URL_FILES = 4
BAD_SHARE = 0.05
DELAY_MS = (3.0, 40.0)
MIN_WORDS = 100
MAX_IMAGES = 5
MIN_IMAGE_SIZE = 40
MAX_ASPECT = 6.0
# one shard per URL file: every shard holds the same mix, so no sink task
# (one per shard) gets more of the long documents than another
SAMPLES_PER_SHARD = (N_HTTP + N_FILE) // URL_FILES
MAGIC = b"%FAKEDOC1.0\n"
# op times keep falling for the first four or five download() calls in a
# fresh JVM; set-up makes this many, so timing starts where they level off
WARMUP_OPS = 5

_SYLLABLES = ("ka ri to mu ne sa lo vi de pa zu fo gel mar tin qua bro "
              "shi nel ost ver cal dun yel wex").split()


def _vocabulary() -> list[str]:
    rng = np.random.default_rng(7)
    words = set()
    while len(words) < 600:
        words.add("".join(rng.choice(_SYLLABLES, size=int(rng.integers(1, 4)))))
    return sorted(words)


WORDS = _vocabulary()


@dataclass
class PageSpec:
    text: str          # expected text after image removal
    words: int
    images: int        # images found on the page, before removal
    success: bool


@dataclass
class DocSpec:
    url: str
    fate: str          # ok | 404 | robots | corrupt
    body: bytes = b""
    delay_s: float = 0.0
    pages: list[PageSpec] = field(default_factory=list)

    @property
    def sha256(self) -> str:
        return hashlib.sha256(self.body).hexdigest()


def _marker(h: int, w: int, src: str) -> str:
    return f'<img height="{h}" width="{w}" src="{src}"/>'


def _image(rng: np.random.Generator, kind: str) -> tuple[int, int, bool]:
    """(height, width, removable) for a normal, undersized or extreme image."""
    if kind == "small":
        side = int(rng.integers(5, MIN_IMAGE_SIZE))
        other = int(rng.integers(MIN_IMAGE_SIZE, 3 * MIN_IMAGE_SIZE))
        return (side, other, True) if rng.random() < 0.5 else (other, side, True)
    if kind == "wide":
        h = int(rng.integers(MIN_IMAGE_SIZE, 100))
        w = int(h * rng.uniform(MAX_ASPECT + 2, MAX_ASPECT + 10))
        return (h, w, True) if rng.random() < 0.5 else (w, h, True)
    h = int(rng.integers(80, 900))
    w = int(h * rng.uniform(0.3, 3.0))
    return h, max(w, MIN_IMAGE_SIZE), False


def _page(rng, src_prefix: str, n_words: int, kinds: list[str]):
    """One page as FAKEDOC xhtml plus its expected post-filter spec."""
    words = rng.choice(WORDS, size=n_words)
    paragraphs = [c for c in np.array_split(words, int(rng.integers(1, 4))) if len(c)]
    images = [(*_image(rng, k), f"{src_prefix}/{j}.png") for j, k in enumerate(kinds)]
    xhtml, text = [], []
    for i, para in enumerate(paragraphs):
        body = " ".join(para)
        xhtml.append(f"<p>{body}</p>")
        text.append("\n" + body)
        if i < len(images):
            h, w, _, src = images[i]
            xhtml.append(f'<img height="{h}" width="{w}" src="{src}"/>')
            text.append(_marker(h, w, src))
    for h, w, _, src in images[len(paragraphs):]:
        xhtml.append(f'<img height="{h}" width="{w}" src="{src}"/>')
        text.append(_marker(h, w, src))
    expected = "".join(text)
    for h, w, removable, src in images:
        if removable:
            expected = expected.replace(_marker(h, w, src), "")
    ok = n_words >= MIN_WORDS and len(images) <= MAX_IMAGES
    return "".join(xhtml), PageSpec(expected, n_words, len(images), ok)


def _document(rng, url: str, n_pages: int, long_doc: bool) -> DocSpec:
    xhtml, pages = [], []
    for p in range(n_pages):
        if long_doc:
            n_words = int(rng.integers(60, 400)) if rng.random() > 0.1 else int(rng.integers(20, MIN_WORDS))
            n_img = int(rng.integers(6, 8)) if rng.random() < 0.05 else int(rng.integers(0, 5))
            kinds = list(rng.choice(["ok", "ok", "ok", "ok", "small", "wide"], size=n_img))
        else:
            n_words = int(rng.integers(MIN_WORDS, 260)) if rng.random() > 0.15 else int(rng.integers(20, MIN_WORDS))
            kinds = ["ok"] * int(rng.integers(0, 3))
        x, spec = _page(rng, f"{url}/{p}", n_words, kinds)
        xhtml.append(x)
        pages.append(spec)
    body = MAGIC + "\x0c".join(xhtml).encode("utf-8")
    return DocSpec(url=url, fate="ok", body=body, pages=pages)


def generate(seed: int, work: Path, base_url: str) -> list[DocSpec]:
    """Seeded documents: HTTP ones carry their served delay and fate; file
    ones are written under ``work/docs``.

    The seed sets contents and order but not the shape of the load. Page
    counts and delays are fixed multisets in seeded order, and every URL
    file (one fetch task each) gets an equal share of the HTTP documents,
    the same delays and the same number of long-document pages. Otherwise
    the slowest file would change from seed to seed.
    """
    rng = np.random.default_rng(seed)
    http_pages = rng.permutation(np.arange(N_HTTP) % 3 + 1)
    per_file = N_HTTP // URL_FILES
    delays_s = np.exp(np.linspace(*np.log(DELAY_MS), per_file)) / 1000.0
    docs = [_document(rng, f"{base_url}/doc/{i}", int(http_pages[i]), False)
            for i in range(N_HTTP)]
    files = [[int(i) for i in idx]
             for idx in np.array_split(rng.permutation(N_HTTP), URL_FILES)]
    for idx in files:
        for i, delay in zip(idx, rng.permutation(delays_s)):
            docs[i].delay_s = float(delay)
    n_bad = round(BAD_SHARE * N_HTTP)
    for k, i in enumerate(rng.choice(N_HTTP, size=n_bad, replace=False)):
        doc = docs[i]
        doc.fate = ("404", "robots", "corrupt")[k % 3]
        doc.pages = []
        if doc.fate == "corrupt":
            doc.body = b"\x89BROKEN" + rng.bytes(200)
    doc_dir = work / "docs"
    doc_dir.mkdir(parents=True, exist_ok=True)
    # deal long documents by size in snake order: 0,1,2,3,3,2,1,0,...
    snake = [*range(URL_FILES), *reversed(range(URL_FILES))]
    pages = np.linspace(20, 60, N_FILE).round().astype(int)
    for rank, i in enumerate(rng.permutation(N_FILE)):
        path = doc_dir / f"long-{i}.fakedoc"
        doc = _document(rng, f"file://{path}", int(pages[rank]), True)
        path.write_bytes(doc.body)
        files[snake[rank % len(snake)]].append(len(docs))
        docs.append(doc)
    url_dir = work / "urls"
    url_dir.mkdir(parents=True, exist_ok=True)
    for part, idx in enumerate(files):
        (url_dir / f"part-{part:05d}.txt").write_text(
            "".join(docs[i].url + "\n" for i in rng.permutation(idx))
        )
    return docs


class DocServer:
    """Serves ``/doc/<i>`` after the document's seeded delay; counts
    requests and the delay it injected."""

    def __init__(self) -> None:
        self.docs: dict[str, DocSpec] = {}
        self.lock = threading.Lock()
        self.requests = 0
        self.wait_s = 0.0
        server = self

        class Handler(BaseHTTPRequestHandler):
            def do_GET(self):  # noqa: N802 — http.server API
                doc = server.docs.get(self.path)
                if doc is not None:
                    time.sleep(doc.delay_s)
                with server.lock:
                    server.requests += 1
                    server.wait_s += doc.delay_s if doc else 0.0
                if doc is None or doc.fate == "404":
                    self.send_error(404)
                    return
                self.send_response(200)
                self.send_header("Content-Type", "application/octet-stream")
                self.send_header("Content-Length", str(len(doc.body)))
                if doc.fate == "robots":
                    self.send_header("X-Robots-Tag", "noai")
                self.end_headers()
                self.wfile.write(doc.body)

            def log_message(self, *args):
                pass

        self.httpd = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self.httpd.daemon_threads = True
        self.thread = threading.Thread(
            target=self.httpd.serve_forever, kwargs={"poll_interval": 0.05}
        )

    @property
    def base_url(self) -> str:
        return f"http://127.0.0.1:{self.httpd.server_address[1]}"

    def publish(self, docs: list[DocSpec]) -> None:
        prefix = self.base_url
        self.docs = {d.url[len(prefix):]: d for d in docs if d.url.startswith(prefix)}

    def take_counters(self) -> tuple[int, float]:
        with self.lock:
            out = (self.requests, self.wait_s)
            self.requests, self.wait_s = 0, 0.0
        return out

    def __enter__(self):
        self.thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self.httpd.shutdown()
        self.httpd.server_close()
        self.thread.join(timeout=10)


# ---------------------------------------------------------------------------
# output checks
# ---------------------------------------------------------------------------
def expected_totals(docs: list[DocSpec]) -> dict:
    rows = succ = failed_dl = 0
    for d in docs:
        if d.fate in ("404", "robots"):
            rows += 1
            failed_dl += 1
        elif d.fate == "corrupt":
            rows += 1
        else:
            rows += len(d.pages)
            succ += sum(p.success for p in d.pages)
    return {"count": rows, "successes": succ, "failed_to_download": failed_dl,
            "failed_to_extract": rows - succ - failed_dl}


def read_sink(out: Path) -> list[tuple]:
    """Every sample the webdataset sink wrote, as ((url, page_no), text, meta),
    sorted by (url, page_no)."""
    samples = []
    for tar_path in sorted(out.glob("*.tar")):
        members: dict[str, dict] = {}
        with tarfile.open(tar_path) as tar:
            for m in tar.getmembers():
                key, _, ext = m.name.rpartition(".")
                members.setdefault(key, {})[ext] = tar.extractfile(m).read()
        for key, parts in members.items():
            meta = json.loads(parts["json"])
            meta["_member_key"] = key
            samples.append(((meta.get("url"), meta.get("page_no")),
                            parts["text"].decode("utf-8"), meta))
    return sorted(samples, key=lambda r: str(r[0]))


def check_output(docs: list[DocSpec], summary: dict, records: list[tuple],
                 meta_rows: int) -> list[str]:
    """Compare one operation's result with the generator's expectation;
    return the problems found (empty when the output is correct)."""
    problems = []
    samples: dict = {}
    for k, text, meta in records:
        if k in samples:
            problems.append(f"{k}: written more than once")
        samples[k] = (text, meta)
    want = expected_totals(docs)
    for k, v in want.items():
        if summary.get(k) != v:
            problems.append(f"summary {k}={summary.get(k)} expected {v}")
    expect = {
        (d.url, p): (page, d)
        for d in docs for p, page in enumerate(d.pages) if page.success
    }
    missing = expect.keys() - samples.keys()
    extra = samples.keys() - expect.keys()
    if missing:
        problems.append(f"{len(missing)} expected pages missing, e.g. {sorted(missing)[0]}")
    if extra:
        problems.append(f"{len(extra)} unexpected samples, e.g. {sorted(extra, key=str)[0]}")
    doc_keys: dict[str, str] = {}
    for k in expect.keys() & samples.keys():
        page, doc = expect[k]
        text, meta = samples[k]
        got = (text, meta.get("total_words"), meta.get("images_per_page"),
               meta.get("status"), meta.get("sha256"))
        exp = (page.text, page.words, page.images, "success", doc.sha256)
        if got != exp:
            field_names = ("text", "total_words", "images_per_page", "status", "sha256")
            bad = [n for n, a, b in zip(field_names, got, exp) if a != b]
            problems.append(f"{k}: wrong {', '.join(bad)}")
            continue
        if meta["_member_key"] != f"{meta.get('doc_key')}{k[1]}":
            problems.append(f"{k}: sample key {meta['_member_key']} is not doc key + page")
        if doc_keys.setdefault(meta.get("doc_key"), doc.url) != doc.url:
            problems.append(f"{k}: doc key {meta.get('doc_key')} shared by two documents")
    if meta_rows != len(expect):
        problems.append(f"meta sidecar has {meta_rows} rows, expected {len(expect)}")
    return problems


def self_test(docs: list[DocSpec], summary: dict, records: list[tuple],
              meta_rows: int) -> list[str]:
    """Corrupt a correct result three ways; return the corruptions the
    checker failed to flag (empty when it caught all of them)."""
    k, text, meta = records[-1]
    corrupted = {
        "dropped page row": records[1:],
        "duplicated page row": records + records[:1],
        "altered total_words": records[:-1] + [
            (k, text, {**meta, "total_words": meta["total_words"] + 1})],
    }
    return [name for name, bad in corrupted.items()
            if not check_output(docs, summary, bad, meta_rows)]


# ---------------------------------------------------------------------------
# the workload
# ---------------------------------------------------------------------------
class Workload:
    name = "etl"

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.work = ctx.work
        self.server = DocServer()
        self.docs: list[DocSpec] = []
        self.problems: list[str] = []
        self.counts: dict[str, list[float]] = {}
        self.plain_times: list[float] = []

    def __enter__(self):
        self.server.__enter__()
        self.docs = generate(self.ctx.seed, self.work, self.server.base_url)
        self.server.publish(self.docs)
        self.items = len(self.docs)
        self.n_pages = sum(len(d.pages) for d in self.docs)
        return self

    def __exit__(self, *exc) -> None:
        self.server.__exit__(*exc)

    def config(self):
        from doc2dataset_spark.config import DownloadConfig

        return DownloadConfig(
            url_list=str(self.work / "urls"),
            output_folder=str(self.work / "out"),
            input_format="txt",
            output_format="webdataset",
            thread_count=1,
            number_sample_per_shard=SAMPLES_PER_SHARD,
            incremental_mode="overwrite",
            timeout=10,
            compute_hash="sha256",
            min_words_per_page=MIN_WORDS,
            max_images_per_page=MAX_IMAGES,
            min_image_size=MIN_IMAGE_SIZE,
            max_aspect_ratio=MAX_ASPECT,
        )

    def setup(self, spark) -> None:
        """Warm-up: ``WARMUP_OPS`` untimed, unchecked download() calls."""
        from doc2dataset_spark.plans.pipeline import download

        self.spark = spark
        for _ in range(WARMUP_OPS):
            download(spark, self.config())

    def _check(self, summary: dict, label: str, self_test_too: bool) -> bool:
        import pyarrow.dataset as ds

        out = self.work / "out"
        samples = read_sink(out)
        meta_rows = ds.dataset(out / "_meta", partitioning="hive").count_rows()
        problems = check_output(self.docs, summary, samples, meta_rows)
        if self_test_too and not problems:
            problems = [f"self-test: checker missed {m}"
                        for m in self_test(self.docs, summary, samples, meta_rows)]
        self.problems += [f"{label}: {p}" for p in problems]
        return not problems

    def op(self, i: int) -> tuple[float, bool]:
        from doc2dataset_spark.plans.pipeline import download

        self.server.take_counters()
        t0 = time.perf_counter()
        summary = download(self.spark, self.config())
        dt = time.perf_counter() - t0
        self.plain_times.append(dt)
        return dt, self._check(summary, f"op {i}", self_test_too=(i == 0))

    def traced_op(self, i: int, tracer) -> tuple[float, bool]:
        """The same pipeline, layer by layer in build_pipeline order, each
        boundary materialized so each span is that layer's own time."""
        from pyspark.sql import functions as F

        from doc2dataset_spark import fsio
        from doc2dataset_spark.operators.extract import extract_pages
        from doc2dataset_spark.operators.filters import apply_page_filters
        from doc2dataset_spark.operators.sharding import assign_keys
        from doc2dataset_spark.operators.stats import global_rollup, shard_stats
        from doc2dataset_spark.plans.pipeline import add_language
        from doc2dataset_spark.sinks.writer import write_output
        from doc2dataset_spark.sources.fetch import (
            compute_hash, fetch_documents, verify_hash)
        from doc2dataset_spark.sources.reader import read_url_list

        cfg = self.config()
        cfg = dataclasses.replace(cfg, output_folder=fsio.absolutize(cfg.output_folder))
        held = []

        def done(df):
            df = df.persist()
            n = df.count()
            for old in held:
                old.unpersist()
            held[:] = [df]
            return df, n

        self.server.take_counters()
        t0 = time.perf_counter()
        with tracer.span("op", mode="traced", index=i) as op:
            with tracer.span("plans.pipeline", parent=op):
                cfg.validate()
                shutil.rmtree(self.work / "out", ignore_errors=True)
                (self.work / "out").mkdir(parents=True)
            with tracer.span("sources.reader", parent=op):
                urls, _ = done(read_url_list(self.spark, cfg))
            with tracer.span("operators.sharding", parent=op):
                keyed, _ = done(assign_keys(urls, cfg))
            with tracer.span("sources.fetch", parent=op):
                fetched, n_fetched = done(fetch_documents(keyed, cfg))
            with tracer.span("perfbench.counters", parent=op):
                n_ok = fetched.filter(F.col("fetch_error").isNull()).count()
            with tracer.span("sources.fetch.hash", parent=op):
                fetched, _ = done(compute_hash(verify_hash(fetched, cfg), cfg))
            with tracer.span("operators.extract", parent=op):
                pages, _ = done(extract_pages(fetched, cfg))
            with tracer.span("perfbench.counters", parent=op):
                n_pages_out = pages.filter(F.col("page_no").isNotNull()).count()
            with tracer.span("operators.filters", parent=op):
                pages, n_rows = done(apply_page_filters(pages, cfg))
            with tracer.span("perfbench.counters", parent=op):
                n_kept = pages.filter(F.col("status") == "success").count()
            with tracer.span("plans.pipeline", parent=op):
                # build_pipeline's own final assembly
                pages = add_language(pages, cfg).withColumn(
                    "exif", F.lit(None).cast("string"))
                pages = pages.withColumn("doc_key", F.col("key")).withColumn(
                    "key",
                    F.when(F.col("page_no").isNotNull(),
                           F.concat(F.col("key"), F.col("page_no").cast("string")))
                    .otherwise(F.col("key")))
                pages, _ = done(pages)
            with tracer.span("sinks.writer", parent=op):
                write_output(pages, cfg)
            with tracer.span("operators.stats", parent=op):
                stats, _ = done(shard_stats(pages))
                summary = global_rollup(stats).collect()[0].asDict()
            for df in held:
                df.unpersist()
        dt = time.perf_counter() - t0
        requests, wait_s = self.server.take_counters()
        out = self.work / "out"
        sink_bytes = sum(p.stat().st_size for p in out.rglob("*") if p.is_file())
        user_bytes = sum(len(p.text.encode()) for d in self.docs for p in d.pages if p.success)
        for name, value in (
            ("sources.fetch.requests", requests),
            ("sources.fetch.ok_ratio", n_ok / max(n_fetched, 1)),
            ("sources.fetch.server_wait_s", wait_s),
            ("operators.extract.pages_out", n_pages_out),
            ("operators.filters.kept_ratio", n_kept / max(n_rows, 1)),
            ("sinks.writer.files", sum(1 for p in out.rglob("*") if p.is_file())),
            ("sinks.writer.bytes_per_user_byte", sink_bytes / max(user_bytes, 1)),
        ):
            self.counts.setdefault(name, []).append(value)
        return dt, self._check(summary, f"traced op {i}", self_test_too=False)

    def own_metrics(self) -> dict:
        """The workload's own metric names, over the median plain operation."""
        from tracing import median

        if not self.plain_times:
            return {}
        op_s = median(self.plain_times)
        return {"docs_per_s": (self.items / op_s, "1/s"),
                "pages_per_s": (self.n_pages / op_s, "1/s")}

    def layer_metrics(self, tracer) -> dict:
        from tracing import median

        ops = [s for s in tracer.spans if s["name"] == "op"]

        def per_op(name):
            return median(
                sum(s["end"] - s["start"] for s in tracer.spans
                    if s["name"] == name and s["parent"] == op["id"])
                for op in ops)

        out = {
            "sources.reader.scan_s": per_op("sources.reader"),
            "operators.sharding.assign_s": per_op("operators.sharding"),
            "sources.fetch.busy_s": per_op("sources.fetch"),
            "sources.fetch.hash_s": per_op("sources.fetch.hash"),
            "operators.extract.busy_s": per_op("operators.extract"),
            "operators.filters.busy_s": per_op("operators.filters"),
            "operators.stats.busy_s": per_op("operators.stats"),
            "sinks.writer.busy_s": per_op("sinks.writer"),
            "plans.pipeline.other_s": median(
                (op["end"] - op["start"]) - tracer.children_time(op["id"])
                + sum(s["end"] - s["start"] for s in tracer.spans
                      if s["name"] == "plans.pipeline" and s["parent"] == op["id"])
                for op in ops),
        }
        out.update({k: median(v) for k, v in self.counts.items()})
        return out
