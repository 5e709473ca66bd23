"""The workloads: input preparation, set-up, the closed-loop timed
phase, oracle checks and (traced runs) per-layer measurement.

Each workload has ``prepare(inputs_dir, seed) -> spec`` (input generation,
kept out of ``setup_s``) and ``run(ctx, spec) -> Outcome``. A run sets up,
runs untimed warm-up waves (or one round), then starts a new wave only
after the previous one finished: ``wave_bulk`` for as long as
``ctx.seconds`` allows, ``crawl_rounds`` for a fixed number of rounds.
A traced run times the same phase with tracing on and then measures the
layers. Its ``trace.overhead_frac`` is the time the tracing itself took
(status-store reads, span records, and outputs the benchmark forced to
time a layer) over the rest of the traced phase: the part of the traced
phase an untraced run would not spend.
"""

from __future__ import annotations

import hashlib
import http.client
import json
import os
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass, field

from web_scraper_v1_spark import fixtures as fx

from crawlbench import inputs
from crawlbench.harness import RssSampler, Tracer, merged_length

HERE = os.path.dirname(os.path.abspath(__file__))

# wave_bulk: the unbounded throughput wave of plans/throughput.py
BULK_PAGES, BULK_HOSTS, BULK_FILLER, BULK_SEEN_PCT = 8_000, 200, 30, 10
# crawl_rounds: politeness-bounded rounds of plans/crawl.py (corpus join)
CRAWL_PAGES, CRAWL_HOSTS, CRAWL_FILLER, CRAWL_SEEDS = 20_000, 50, 0, 5_000
CRAWL_KW = dict(batch_size=500, host_budget=10, discover_links=True, max_depth=1)
CRAWL_TIMED_ROUNDS = 1  # after the warm-up round; one round outlasts --seconds


@dataclass
class Ctx:
    spark: object
    seconds: float
    trace: bool
    work: str
    rss: RssSampler
    tracer: Tracer


@dataclass
class Outcome:
    setup_end: float = 0.0  # wall clock when the first timed wave started
    waves: list = field(default_factory=list)  # timed wave durations, s
    wall: float = 0.0  # timed wall time, s
    good: int = 0  # URLs fetched and parsed with oracle-equal text (timed)
    attempted: int = 0  # URLs attempted, every checked wave
    failed: int = 0
    problems: list = field(default_factory=list)
    layer: dict = field(default_factory=dict)
    notes: dict = field(default_factory=dict)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _problem(out: Outcome, msg: str) -> None:
    if len(out.problems) < 20:
        out.problems.append(msg[:400])


def _loop(out: Outcome, seconds: float, wave, check, n_attempted: int, timed: bool):
    """Closed loop: start waves until ``seconds`` have passed (at least
    one), then check every output. A wave that raises fails all its URLs
    and ends the loop. Returns the wave durations."""
    outs, durs = [], []
    t0 = time.perf_counter()
    while not durs or time.perf_counter() - t0 < seconds:
        s = time.perf_counter()
        try:
            res = wave()
        except Exception as e:  # counted as failed URLs, reported below
            _problem(out, f"wave raised: {e!r}")
            res = None
        durs.append(time.perf_counter() - s)
        outs.append(res)
        if res is None:
            break
    wall = time.perf_counter() - t0
    for res in outs:
        out.attempted += n_attempted
        if res is None:
            out.failed += n_attempted
            continue
        good, bad = check(res)
        out.failed += bad
        if timed:
            out.good += good
    if timed:
        out.waves, out.wall = durs, wall
    return durs


def _overhead(extra_s: float, phase_s: float) -> float:
    return extra_s / (phase_s - extra_s)


# ---------------------------------------------------------------------------
# wave_bulk
# ---------------------------------------------------------------------------


def prepare_wave_bulk(inputs_dir: str, seed: int) -> dict:
    P, H = BULK_PAGES, BULK_HOSTS
    corpus = inputs.page_corpus(inputs_dir, P, H, BULK_FILLER)

    def make():
        seen = [
            u for u in (fx.page_url(i, H) for i in range(P))
            if fx.dhash(u, f"seen/{seed}") % 100 < BULK_SEEN_PCT
        ]
        return inputs.make_seeds(seed, P, P, H), seen

    name = f"wave_bulk-p{P}-h{H}-s{P}-{inputs.SEED_MIX}-seen{BULK_SEEN_PCT}"
    return {"corpus": corpus, "seeded": inputs.seeded_inputs(inputs_dir, name, seed, make)}


def _bulk_oracle(spec: dict):
    golden = inputs.golden_texts(spec["corpus"])
    sizes = inputs.page_sizes(spec["corpus"])
    seen = set(inputs.read_column(os.path.join(spec["seeded"], "seen.parquet"), "url"))
    seed_urls = inputs.read_column(os.path.join(spec["seeded"], "seeds.parquet"), "url")
    distinct = list(dict.fromkeys(fx.canonicalize_url(u) for u in seed_urls))
    frontier = [u for u in distinct if u not in seen]
    expected = {u: golden[u] for u in frontier if golden.get(u) is not None}
    return expected, sizes, frontier, len(distinct), len(seed_urls), seen, golden


def run_wave_bulk(ctx: Ctx, spec: dict) -> Outcome:
    from pyspark.sql import functions as F

    from web_scraper_v1_spark.functions import urls as U
    from web_scraper_v1_spark.operators.seen import SeenSet
    from web_scraper_v1_spark.plans.throughput import fetch_parse_wave
    from web_scraper_v1_spark.sources.corpus import SEEDS_SCHEMA, read_pages

    spark, out = ctx.spark, Outcome()
    expected, sizes, frontier, n_attempted, n_seeds, seen, golden = _bulk_oracle(spec)
    pages = read_pages(spark, spec["corpus"])
    seeds = spark.read.schema(SEEDS_SCHEMA).parquet(os.path.join(spec["seeded"], "seeds.parquet"))
    seen_df = spark.read.parquet(os.path.join(spec["seeded"], "seen.parquet")).select(
        U.url_hash(F.col("url")).alias("url_hash"), "url"
    )
    seen_set = SeenSet(spark, n_bits=1 << 24)
    seen_set.load(seen_df)

    def wave():
        return fetch_parse_wave(
            spark, seeds, pages, seen_set=seen_set, parse_features=True
        ).toArrow()

    def check(tbl):
        good = bad = 0
        got = set()
        for r in tbl.to_pylist():
            u, want = r["url"], expected.get(r["url"])
            ok = (
                want is not None
                and u not in got
                and r["text"] == want
                and [r["user_agent"], r["ip_address"], r["forwarded_host"]] == want.split("\n")
                and r["fingerprint"] == hashlib.md5(want.encode("utf-8")).hexdigest()
                and r["page_bytes"] == sizes[u]
                and r["features"] is not None
                and r["features"]["n_winnow"] > 0
            )
            got.add(u)
            if ok:
                good += 1
            else:
                bad += 1
                _problem(out, f"wave_bulk: wrong or extra row {u!r}")
        missing = len(expected.keys() - got)
        if missing:
            _problem(out, f"wave_bulk: {missing} expected rows missing")
        return good, bad + missing

    tr = ctx.tracer

    def traced_wave():
        with tr.span("wave"):
            return wave()

    # two warm-up waves: the first wave after a single one still ran
    # 15-25% slower than the waves after it
    for _ in range(2):
        _loop(out, 0, wave, check, n_attempted, timed=False)
    out.setup_end = time.time()
    if ctx.trace:
        tr.start()
    _loop(out, ctx.seconds, traced_wave if ctx.trace else wave, check, n_attempted, timed=True)
    if ctx.trace:
        out.layer["trace.overhead_frac"] = _overhead(tr.own_s, sum(out.waves))
        out.layer.update(
            _bulk_layers(ctx, spec, out, pages, seeds, seen_df, n_seeds, seen, frontier, golden)
        )
    return out


def _exchange_bytes(df) -> int:
    """Data size of every exchange (shuffle or broadcast) in the final
    plan of a DataFrame that has been collected."""
    total, todo = 0, [df._jdf.queryExecution().executedPlan()]
    while todo:
        p = todo.pop()
        if p.nodeName() == "AdaptiveSparkPlan":
            todo.append(p.executedPlan())
            continue
        if p.getClass().getSimpleName().endswith("QueryStageExec"):
            todo.append(p.plan())
            continue
        m = p.metrics()
        if p.nodeName().endswith("Exchange") and m.contains("dataSize"):
            total += m.apply("dataSize").value()
        kids = p.children().iterator()
        while kids.hasNext():
            todo.append(kids.next())
    return total


def _split_wave(tr, name: str) -> tuple[float, float]:
    """(fetch side, last job) wall seconds of the span ``name``, which
    collected one ``fetch_parse_from_frontier`` result. Every Spark job of
    the span before its last one is the corpus side of the fetch join
    (scan, canonicalize, broadcast or shuffle write) and is attributed to
    the ``fetch`` layer; the last job runs the join's other side and the
    UDFs after it."""
    (s,) = tr.spans_named(name)
    jobs = sorted(
        (j for j in tr.jobs if j["span"] == s["id"] and j["submit"] and j["end"]),
        key=lambda j: j["submit"],
    )
    for j in jobs[:-1]:
        j["layer"] = "fetch"
    last = jobs[-1]["end"] - jobs[-1]["submit"] if jobs else 0.0
    return s["end"] - s["start"] - last, last


def _bulk_layers(ctx, spec, out, pages, seeds, seen_df, n_seeds, seen_urls, frontier, golden) -> dict:
    """One wave taken apart through the engine's own functions, each
    inside its span with its output forced: ``read_pages``,
    ``prepare_seeds``, ``SeenSet.load`` and ``filter_new``, then
    ``fetch_parse_from_frontier`` on that frontier without and with the
    sketch stage (``parse_features``), split by ``_split_wave``. Then the
    live path on the same frontier (``_live_layers``)."""
    import numpy as np

    from web_scraper_v1_spark.operators.frontier import prepare_seeds
    from web_scraper_v1_spark.operators.seen import SeenSet
    from web_scraper_v1_spark.plans.throughput import fetch_parse_from_frontier
    from web_scraper_v1_spark.sources.corpus import read_pages

    spark, tr = ctx.spark, ctx.tracer
    with tr.span("corpus.scan"):
        _noop(read_pages(spark, spec["corpus"]))
    with tr.span("urls.prepare"):
        prepared = prepare_seeds(seeds, batch_size=1 << 62).persist()
        n_prepared = prepared.count()
    with tr.span("seen.build"):
        seen_set = SeenSet(spark, n_bits=1 << 24)
        seen_set.load(seen_df)
    with tr.span("seen.filter"):
        fresh = seen_set.filter_new(prepared).persist()
        fresh.count()
    with tr.span("extraction.wave"):
        fetch_parse_from_frontier(spark, fresh, pages).toArrow()
    with tr.span("throughput.wave"):
        full = fetch_parse_from_frontier(spark, fresh, pages, parse_features=True)
        full.toArrow()
    _, udf_plain = _split_wave(tr, "extraction.wave")
    fetch_s, udf_full = _split_wave(tr, "throughput.wave")
    with tr.span("bench.counts"):
        cand = prepared.select("url_hash", "canonical_url").toArrow()
    keys = np.asarray(cand.column("url_hash").to_numpy(), dtype=np.int64)
    maybe = seen_set.bloom.contains(keys)
    truly = np.array([u in seen_urls for u in cand.column("canonical_url").to_pylist()])
    live = _live_layers(ctx, spec, out, fresh, frontier, golden)
    for df in (fresh, prepared):
        df.unpersist()
    return {
        "corpus.scan_s": tr.layer_time("corpus.scan"),
        "corpus.scan_bytes": os.path.getsize(os.path.join(spec["corpus"], "pages.parquet")),
        "urls.prepare_s": tr.layer_time("urls.prepare"),
        "urls.dedup_ratio": n_prepared / n_seeds,
        "seen.build_s": tr.layer_time("seen.build"),
        "seen.filter_s": tr.layer_time("seen.filter"),
        "seen.bloom_pass_frac": float(maybe.mean()),
        "seen.bloom_fp_frac": float((maybe & ~truly).sum() / max(1, (~truly).sum())),
        "seen.state_bytes": seen_set.bloom.bits2d.nbytes
        + os.path.getsize(os.path.join(spec["seeded"], "seen.parquet")),
        "fetch.join_s": fetch_s,
        "fetch.shuffle_bytes": _exchange_bytes(full),
        "extraction.extract_s": udf_plain,
        "throughput.features_s": max(0.0, udf_full - udf_plain),
        **live,
    }


class _Origin:
    """The loopback origin process (crawlbench/origin.py)."""

    def __init__(self, work: str, pages: str):
        port_file = os.path.join(work, "origin.port")
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "origin.py"), "--pages", pages,
             "--port-file", port_file],
            stdin=subprocess.PIPE,
        )
        deadline = time.time() + 60
        while not os.path.exists(port_file):
            if self.proc.poll() is not None or time.time() > deadline:
                self.close()
                raise RuntimeError("origin did not start")
            time.sleep(0.02)
        with open(port_file) as f:
            self.port = int(f.read())

    def stats(self) -> dict:
        conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=30)
        try:
            conn.request("GET", "/_stats")
            return json.loads(conn.getresponse().read())
        finally:
            conn.close()

    def cpu_s(self) -> float:
        with open(f"/proc/{self.proc.pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")

    def close(self) -> None:
        if self.proc.poll() is None:
            self.proc.stdin.close()  # the origin exits on stdin EOF
            try:
                self.proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait(timeout=30)


def _fetch_via_origin(frontier, port: int):
    """``live_fetch`` of the frontier's canonical URLs through the origin,
    addressed like a forward proxy (``https://h/p`` is requested as
    ``http://127.0.0.1:<port>/h/p``) so every corpus host is served
    locally."""
    from pyspark.sql import functions as F

    from web_scraper_v1_spark.sources.livefetch import chrome_ua_column, live_fetch

    base = f"http://127.0.0.1:{port}/"
    requests = frontier.select(
        F.concat(F.lit(base), F.regexp_replace("canonical_url", "^https://", ""))
        .alias("fetch_url"),
        chrome_ua_column(F.col("canonical_url")).alias("user_agent"),
    )
    return live_fetch(requests, url_col="fetch_url")


def _rows(tbl):
    return zip(*(c.to_pylist() for c in tbl.columns))


def _check_live(out: Outcome, frontier, golden, base: str, statuses, parsed) -> None:
    """Every frontier URL once: a corpus page is a 200 whose full body
    parses to its golden text (a parse error for a malformed page), a
    miss is a 404. Anything else, and any extra row, fails."""
    def page(fetch_url: str) -> str:
        return "https://" + fetch_url[len(base):]

    got = {}
    for u, status, kind in statuses:
        if page(u) in got:
            _problem(out, f"live_fetch: duplicate row {u!r}")
            out.failed += 1
        got[page(u)] = (status, kind)
    texts = {page(u): (text, err) for u, text, err in parsed}
    for u in frontier:
        want, st, tx = golden.get(u), got.pop(u, None), texts.get(u)
        if u not in golden:
            ok = st == (404, "non200")
        elif want is None:
            ok = st == (200, None) and tx is not None and tx[1]
        else:
            ok = st == (200, None) and tx == (want, False)
        if not ok:
            out.failed += 1
            _problem(out, f"live_fetch: {u!r} gave {st} {tx}")
    out.attempted += len(frontier) + len(got)
    out.failed += len(got)
    if got:
        _problem(out, f"live_fetch: {len(got)} rows for URLs not in the frontier")


def _live_layers(ctx, spec, out, fresh, frontier, golden) -> dict:
    """The wave's frontier fetched over loopback HTTP by
    ``sources.livefetch`` from the origin process, which serves the same
    corpus, then the extraction UDF over the full bodies; every URL is
    checked against the oracle (``_check_live``)."""
    from pyspark.sql import functions as F

    from web_scraper_v1_spark.functions.extraction import (
        extract_receiver_response,
        golden_text,
    )

    tr = ctx.tracer
    origin = _Origin(ctx.work, os.path.join(spec["corpus"], "pages.parquet"))
    ctx.rss.exclude.add(origin.proc.pid)
    try:
        s0, c0, t0 = origin.stats(), origin.cpu_s(), time.perf_counter()
        with tr.span("livefetch.fetch"):
            fetched = _fetch_via_origin(fresh, origin.port).persist()
            fetched.count()
        s1, c1, t1 = origin.stats(), origin.cpu_s(), time.perf_counter()
    finally:
        origin.close()
    with tr.span("extraction.full_body"):
        r = extract_receiver_response(F.col("html"))
        parsed = (
            fetched.filter(F.col("status") == 200)
            .select("canonical_url", golden_text(r).alias("text"), r["parse_error"].alias("err"))
            .toArrow()
        )
    with tr.span("bench.counts"):
        statuses = fetched.select("canonical_url", "status", "error_kind").toArrow()
    fetched.unpersist()
    base = f"http://127.0.0.1:{origin.port}/"
    _check_live(out, frontier, golden, base, _rows(statuses), _rows(parsed))
    kinds: dict = {}
    for k in statuses.column("error_kind").to_pylist():
        kinds[k] = kinds.get(k, 0) + 1
    n_err = sum(parsed.column("err").to_pylist())
    reqs = s1["requests"] - s0["requests"]
    fetch_s = tr.layer_time("livefetch.fetch")
    return {
        "livefetch.fetch_s": fetch_s,
        "livefetch.req_per_s": reqs / fetch_s,
        "livefetch.conn_per_req": (s1["connections"] - s0["connections"]) / max(1, reqs),
        "livefetch.error_kinds.non200": kinds.get("non200", 0),
        "livefetch.error_kinds.other": sum(v for k, v in kinds.items() if k not in (None, "non200")),
        "origin.cpu_frac": (c1 - c0) / (t1 - t0),
        "extraction.full_body_s": tr.layer_time("extraction.full_body"),
        "extraction.rows": parsed.num_rows,
        "extraction.parse_error_frac": n_err / max(1, parsed.num_rows),
    }


# ---------------------------------------------------------------------------
# crawl_rounds
# ---------------------------------------------------------------------------


def prepare_crawl_rounds(inputs_dir: str, seed: int) -> dict:
    P, H, S = CRAWL_PAGES, CRAWL_HOSTS, CRAWL_SEEDS
    corpus = inputs.page_corpus(inputs_dir, P, H, CRAWL_FILLER)
    name = f"crawl_rounds-p{P}-h{H}-s{S}-{inputs.SEED_MIX}"
    seeded = inputs.seeded_inputs(
        inputs_dir, name, seed, lambda: (inputs.make_seeds(seed, S, P, H), None)
    )
    return {"corpus": corpus, "seeded": seeded}


def _dir_bytes(path: str) -> tuple[int, int]:
    files = size = 0
    for d, _, fs in os.walk(path):
        for f in fs:
            if f.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(d, f))
    return files, size


def _read_table(store, table: str, columns: list[str]) -> list[tuple]:
    """A committed snapshot table, read with pyarrow (not through Spark)."""
    import pyarrow.parquet as pq

    rows = []
    for path in store.committed_paths(table):
        t = pq.read_table(path, columns=columns)
        rows.extend(zip(*(t.column(c).to_pylist() for c in columns)))
    return rows


def run_crawl_rounds(ctx: Ctx, spec: dict) -> Outcome:
    """One ``CrawlEngine.run`` of ``1 + CRAWL_TIMED_ROUNDS`` rounds: round
    0 is the warm-up, later rounds are timed from one round commit to the
    next. The benchmark observes the commits by wrapping
    ``SnapshotStore.commit_round``."""
    import pyarrow.parquet as pq

    from web_scraper_v1_spark.operators.seen import SeenSet
    from web_scraper_v1_spark.plans import crawl
    from web_scraper_v1_spark.plans.crawl import CrawlEngine
    from web_scraper_v1_spark.sources.corpus import SEEDS_SCHEMA, read_pages, read_robots
    from web_scraper_v1_spark.sources.snapshots import SnapshotStore

    spark, tr, out = ctx.spark, ctx.tracer, Outcome()
    pages = read_pages(spark, spec["corpus"])
    robots = read_robots(spark, spec["corpus"])
    seeds = spark.read.schema(SEEDS_SCHEMA).parquet(os.path.join(spec["seeded"], "seeds.parquet"))
    engine = CrawlEngine(spark, os.path.join(ctx.work, "crawl-run"), **CRAWL_KW)

    commits: list[dict] = []  # {round, t, meta, phase}: phase its round ran in
    max_rounds = 1 + CRAWL_TIMED_ROUNDS
    st = {"phase": "warmup", "round_span": None}
    patches: list[tuple] = []
    io = {"files_read": 0, "bytes_written": 0, "forced_s": 0.0}

    def patch(owner, name, fn):
        patches.append((owner, name, getattr(owner, name)))
        setattr(owner, name, fn)

    def traced_call(orig, span_name, force=None):
        def wrapped(*a, **k):
            s = tr.open(span_name)
            try:
                res = orig(*a, **k)
                if force is not None:
                    t = time.perf_counter()
                    _noop(force(res))
                    io["forced_s"] += time.perf_counter() - t
                return res
            finally:
                tr.close(s)

        return wrapped

    def install_tracing():
        patch(crawl, "per_host_topk", traced_call(crawl.per_host_topk, "frontier.select", lambda r: r))
        patch(crawl, "global_prefix_sum", traced_call(crawl.global_prefix_sum, "ordering.prefix_sum", lambda r: r))
        patch(CrawlEngine, "_wave_join", traced_call(CrawlEngine._wave_join, "fetch.join", lambda r: r[0]))
        patch(SeenSet, "filter_new", traced_call(SeenSet.filter_new, "seen.filter", lambda r: r))
        patch(SeenSet, "add", traced_call(SeenSet.add, "seen.build"))
        orig_write, orig_read = SnapshotStore.write_snapshot, SnapshotStore.read

        def write_snapshot(self, *a, **k):
            s = tr.open("snapshots.write")
            try:
                path = orig_write(self, *a, **k)
            finally:
                tr.close(s)
            io["bytes_written"] += _dir_bytes(path)[1]
            return path

        def read(self, spark_, table, schema):
            io["files_read"] += sum(_dir_bytes(p)[0] for p in self.committed_paths(table))
            return orig_read(self, spark_, table, schema)

        patch(SnapshotStore, "write_snapshot", write_snapshot)
        patch(SnapshotStore, "read", read)

    orig_commit = SnapshotStore.commit_round

    def commit_round(self, round_id, tables, meta):
        s = tr.open("snapshots.commit") if tr.active else None
        orig_commit(self, round_id, tables, meta)
        if s is not None:
            tr.close(s)
        now = time.time()
        commits.append({"round": round_id, "t": now, "meta": meta, "phase": st["phase"]})
        if st["round_span"] is not None:
            tr.close(st["round_span"])
            st["round_span"] = None
        if st["phase"] == "warmup":
            st["phase"] = "traced" if ctx.trace else "timed"
            out.setup_end = now
            if ctx.trace:
                install_tracing()
                tr.start()
        if st["phase"] == "traced" and round_id + 1 < max_rounds:
            st["round_span"] = tr.open("crawl.round")

    patch(SnapshotStore, "commit_round", commit_round)
    t_run = time.time()
    raised = False
    try:
        engine.run(seeds, pages, robots, max_rounds=max_rounds)
    except Exception as e:  # the round that raised fails, counted below
        raised = True
        _problem(out, f"crawl raised: {e!r}")
    finally:
        for owner, name, orig in reversed(patches):
            setattr(owner, name, orig)
        tr.active = False
    if not commits:  # the warm-up round raised
        out.attempted = out.failed = 1
        return out

    # round k runs from commit k-1 (or the run's start) to commit k
    times = [t_run] + [c["t"] for c in commits]
    round_s = [b - a for a, b in zip(times, times[1:])]
    phases = [c["phase"] for c in commits]
    timed = [d for d, p in zip(round_s, phases) if p in ("timed", "traced")]
    timed_rounds = {c["round"] for c in commits if c["phase"] in ("timed", "traced")}
    traced_rounds = timed_rounds if ctx.trace else set()
    out.waves, out.wall = timed, sum(timed)
    out.notes["round_s"] = [round(x, 4) for x in round_s]
    if ctx.trace:
        out.notes["rounds_traced"] = max(1, len(traced_rounds))

    # -- oracle: the simulator run for as many rounds (up to the one that raised)
    seeds_py = pq.read_table(os.path.join(spec["seeded"], "seeds.parquet")).to_pylist()
    golden = inputs.golden_texts(spec["corpus"])
    pages_py = [
        {"url": u, "text": t, "outlinks": fx.outlinks_of(u, CRAWL_PAGES, CRAWL_HOSTS)}
        for u, t in golden.items()
    ]

    def simulate(rounds):
        return fx.simulate_crawl(
            seeds_py, pages_py, retry_limit=3, robots=fx.generate_robots(CRAWL_HOSTS),
            max_rounds=rounds, **CRAWL_KW,
        )

    sim = simulate(commits[-1]["round"] + 1 if raised else max_rounds)
    cols = ["seq", "round", "identity_epoch", "url", "host", "attempt", "outcome"]
    got = sorted(_read_table(engine.store, "trace", cols))
    want = [tuple(e[c] for c in cols) for e in sim.trace]
    results = {
        u: "\n".join([ua, ip, fh])
        for u, ua, ip, fh in _read_table(
            engine.store, "results", ["url", "user_agent", "ip_address", "forwarded_host"]
        )
    }
    bad_results = {u for u, t in results.items() if golden.get(u) != t}
    seen = {u for (u,) in _read_table(engine.store, "seen", ["url"])}
    mism = sum(1 for a, b in zip(got, want) if a != b) + abs(len(got) - len(want))
    seen_diff = len(seen ^ sim.seen_urls)
    out.attempted = len(want)
    out.failed = mism + seen_diff + len(bad_results)
    if raised:  # every event of the round that raised fails
        lost = max(1, len(simulate(commits[-1]["round"] + 2).trace) - len(want))
        out.attempted += lost
        out.failed += lost
    if mism:
        first = next((i for i, (a, b) in enumerate(zip(got, want)) if a != b), min(len(got), len(want)))
        _problem(out, f"crawl trace: {mism} events differ; first at {first}: "
                 f"got {got[first] if first < len(got) else None} "
                 f"want {want[first] if first < len(want) else None}")
    if seen_diff:
        _problem(out, f"crawl seen set: {seen_diff} URLs differ from the simulator")
    if bad_results:
        _problem(out, f"crawl results: {len(bad_results)} texts differ, e.g. {sorted(bad_results)[:3]}")
    out.good = sum(
        1 for a, b in zip(got, want)
        if a == b and a[6] == fx.OUTCOME_FETCHED and a[1] in timed_rounds and a[3] not in bad_results
    )
    if ctx.trace:
        out.layer = _crawl_layers(ctx, engine, commits, traced_rounds, round_s, got, io, seeds)
    return out


def _crawl_layers(ctx, engine, commits, traced_rounds, round_s, trace_rows, io, seeds) -> dict:
    import numpy as np

    from web_scraper_v1_spark.operators.frontier import prepare_seeds

    tr = ctx.tracer
    n = max(1, len(traced_rounds))
    metas = [c["meta"] for c in commits if c["phase"] == "traced"]
    selected = sum(m["wave_size"] - m["robots_blocked"] for m in metas)
    deferred = sum(m["deferred"] for m in metas)
    fetched = sum(m["fetched"] for m in metas)
    kinds: dict[str, int] = {}
    for m in metas:
        for k, v in m["failure_kinds"].items():
            kinds[k] = kinds.get(k, 0) + v
    shares = []
    for r in traced_rounds:
        hosts: dict[str, int] = {}
        for e in trace_rows:
            if e[1] == r and e[5] == 1 and e[6] != fx.OUTCOME_ROBOTS:
                hosts[e[4]] = hosts.get(e[4], 0) + 1
        if hosts:
            shares.append(max(hosts.values()) / sum(hosts.values()))
    # round time covered by no job the engine started
    rounds = tr.spans_named("crawl.round")
    engine_jobs = [j for j in tr.jobs if "crawlbench/" not in (j["call_site"] or "")]
    gap = sum(
        (s["end"] - s["start"]) - merged_length([
            (max(j["submit"], s["start"]), min(j["end"], s["end"]))
            for j in engine_jobs
            if j["submit"] and j["end"] and j["end"] > s["start"] and j["submit"] < s["end"]
        ])
        for s in rounds
    )
    # Bloom quality over every URL ever enqueued, against the exact set
    seen_set = engine.processed_set
    cand = (
        prepare_seeds(seeds, CRAWL_KW["batch_size"]).select("url_hash", "canonical_url")
        .unionByName(engine.frontier().select("url_hash", "canonical_url"))
        .toArrow()
    )
    processed = {u for (u,) in _read_table(engine.store, "processed", ["url"])}
    keys = np.asarray(cand.column("url_hash").to_numpy(), dtype=np.int64)
    maybe = seen_set.bloom.contains(keys)
    truly = np.array([u in processed for u in cand.column("canonical_url").to_pylist()])
    layer = {
        "frontier.select_s": tr.layer_time("frontier.select") / n,
        "frontier.selected_frac": selected / max(1, selected + deferred),
        "frontier.host_max_share": statistics.mean(shares) if shares else 0.0,
        "seen.build_s": tr.layer_time("seen.build") / n,
        "seen.filter_s": tr.layer_time("seen.filter") / n,
        "seen.bloom_pass_frac": float(maybe.mean()),
        "seen.bloom_fp_frac": float((maybe & ~truly).sum() / max(1, (~truly).sum())),
        "seen.state_bytes": seen_set.bloom.bits2d.nbytes
        + sum(_dir_bytes(p)[1] for p in engine.store.committed_paths("processed")),
        "fetch.join_s": tr.layer_time("fetch.join") / n,
        "fetch.shuffle_bytes": sum(
            j["shuffle_read_bytes"] + j["shuffle_write_bytes"] for j in tr.jobs_in({"fetch.join"})
        ) / n,
        "extraction.rows": (fetched + kinds.get("parse", 0)) / n,
        "extraction.parse_error_frac": kinds.get("parse", 0) / max(1, fetched + kinds.get("parse", 0)),
        "ordering.prefix_sum_s": tr.layer_time("ordering.prefix_sum") / n,
        "snapshots.write_s": tr.layer_time("snapshots.write") / n,
        "snapshots.commit_s": tr.layer_time("snapshots.commit") / n,
        "snapshots.files_read_per_round": io["files_read"] / n,
        "snapshots.bytes_per_fetched_url": io["bytes_written"] / max(1, fetched),
        "crawl.jobs_per_round": len([j for j in engine_jobs if j["span"] is not None]) / n,
        "crawl.driver_gap_s": gap / max(1, len(rounds)),
        "crawl.round_s_by_index.0": round_s[0],
        "crawl.round_s_by_index.1": round_s[1] if len(round_s) > 1 else 0.0,
        "trace.overhead_frac": _overhead(
            tr.own_s + io["forced_s"], sum(round_s[1:])
        ),
    }
    return layer


WORKLOADS = {
    "wave_bulk": (prepare_wave_bulk, run_wave_bulk),
    "crawl_rounds": (prepare_crawl_rounds, run_crawl_rounds),
}
