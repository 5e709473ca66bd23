"""Deterministic reference fixtures for the PySpark crawl engine.

This module is **pure Python** (no Spark). It defines:

* the synthetic Common-Crawl-style page corpus mandated by
  ``BASELINE.json`` ``input_hint`` — ``(url, warc_ts, html, text, lang)`` —
  generated from the reference receiver's response template
  (``/root/reference/cmd/receiver/main.go:30``) with hash-derived
  deterministic values (never RNG state or wall clock);
* a direct row-at-a-time Python transliteration of the reference parser
  (``/root/reference/internal/parser/receiver_response_parser.go:18-37``),
  used by pytest as the byte-equality oracle for the vectorized Spark
  extraction UDF;
* a sequential simulation of the reference crawl-loop semantics
  (FIFO dequeue ``internal/taskqueue/queue.go:52-61``, batch barrier every
  ``batch_size`` ``cmd/transmitter/main.go:179-192``, retry-then-drop
  ``internal/taskqueue/worker.go:81-95``, identity-epoch rotation per batch
  ``cmd/transmitter/main.go:201-218``) that produces the golden crawl-order
  trace the Spark engine must reproduce.

Every pseudo-random choice derives from a stable 64-bit hash of the row key
so fixtures are reproducible across processes and machines.
"""

from __future__ import annotations

import hashlib
import math
import re
from collections import defaultdict
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone

# ---------------------------------------------------------------------------
# Deterministic hashing (replaces the reference's rand.Rand usage; cf.
# /root/reference/internal/useragent/chrome.go:69-74 which is nondeterministic
# by design — determinism here is a deliberate engine-side change so runs are
# byte-reproducible).
# ---------------------------------------------------------------------------


def dhash(key: str, salt: str = "") -> int:
    """Stable 64-bit unsigned hash of ``salt + '|' + key``."""
    digest = hashlib.blake2b(f"{salt}|{key}".encode("utf-8"), digest_size=8).digest()
    return int.from_bytes(digest, "big")


# ---------------------------------------------------------------------------
# Chrome User-Agent pools — exact values from
# /root/reference/internal/useragent/chrome.go:47-59; template from
# chrome.go:73. NOTE: the template intentionally preserves the reference's
# Cyrillic look-alike bytes: U+043E ('о') in "Mоzill" and U+0430
# ('а') — byte-identical parity requires copying these exact codepoints.
# ---------------------------------------------------------------------------

CHROME_VERSIONS = [
    "126.0.6478.114", "126.0.6478.62", "126.0.6478.61",
    "126.0.6478.56", "124.0.6367.243", "124.0.6367.233",
    "124.0.6367.230", "124.0.6367.221", "124.0.6367.208",
    "124.0.6367.201", "124.0.6367.118", "123.0.6358.132",
    "123.0.6358.121", "122.0.6345.98", "122.0.6345.67",
]

CHROME_OPERATING_SYSTEMS = [
    "Windows NT 10.0; Win64; x64",
    "Macintosh; Intel Mac OS X 10_15_7",
    "X11; Linux x86_64", "Windows NT 6.1; Win64; x64",
    "Macintosh; Intel Mac OS X 10_14_6",
]

UA_TEMPLATE = (
    "Mоzillа/5.0 ({os}) AppleWebKit/537.36"
    " (KHTML, like Gecko) Chrome/{version} Safari/537.36"
)


def chrome_user_agent(url: str) -> str:
    """Deterministic analog of ChromeUserAgentGenerator.Generate
    (chrome.go:69-74): version/OS picked by hash-of-url instead of rand."""
    version = CHROME_VERSIONS[dhash(url, "ua-version") % len(CHROME_VERSIONS)]
    os_name = CHROME_OPERATING_SYSTEMS[dhash(url, "ua-os") % len(CHROME_OPERATING_SYSTEMS)]
    return UA_TEMPLATE.format(os=os_name, version=version)


# ---------------------------------------------------------------------------
# Receiver response template — /root/reference/cmd/receiver/main.go:30
# ---------------------------------------------------------------------------

RESPONSE_TEMPLATE = (
    "Received User-Agent: {ua}\nIP Address: {ip}\nForwarded Host: {fh}"
)

PREFIX_UA = "Received User-Agent: "
PREFIX_IP = "IP Address: "
PREFIX_FH = "Forwarded Host: "


def parse_receiver_response(html_content: str | None):
    """Row-at-a-time transliteration of ReceiverResponseParser.Parse
    (/root/reference/internal/parser/receiver_response_parser.go:18-37).

    Returns ``(user_agent, ip_address, forwarded_host)`` or ``None`` when the
    body has fewer than 3 newline-separated lines (the reference's
    "invalid response format" error, parser.go:20-22). Fields default to the
    empty string; for repeated prefixed lines the last match wins, matching
    the Go loop order.
    """
    if html_content is None:
        return None
    lines = html_content.split("\n")
    if len(lines) < 3:
        return None
    ua = ip = fh = ""
    for line in lines:
        if line.startswith(PREFIX_UA):
            ua = line[len(PREFIX_UA):]
        elif line.startswith(PREFIX_IP):
            ip = line[len(PREFIX_IP):]
        elif line.startswith(PREFIX_FH):
            fh = line[len(PREFIX_FH):]
    return (ua, ip, fh)


# ---------------------------------------------------------------------------
# URL canonicalization — engine-defined (the reference has none; URLs are
# used verbatim, cf. cmd/transmitter/main.go:185). The Spark column
# expression in functions/urls.py must match this byte-for-byte; pytest
# asserts equality on an adversarial URL list.
# ---------------------------------------------------------------------------

_URL_RX = re.compile(
    r"^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(\?[^#]*)?(#.*)?$"
)


def canonicalize_url(url: str) -> str:
    """Canonical form: lowercase scheme+authority, strip default ports,
    empty path -> '/', drop fragment, drop a bare trailing '?'."""
    u = url.strip()
    m = _URL_RX.match(u)
    if not m:
        return u
    scheme = m.group(1).lower()
    auth = m.group(2).lower()
    path = m.group(3) or "/"
    query = m.group(4) or ""
    if scheme == "http" and auth.endswith(":80"):
        auth = auth[:-3]
    elif scheme == "https" and auth.endswith(":443"):
        auth = auth[:-4]
    if query == "?":
        query = ""
    return f"{scheme}://{auth}{path}{query}"


def host_of(url: str) -> str:
    """Host component of a canonical URL (authority minus userinfo/port)."""
    m = _URL_RX.match(url.strip())
    auth = m.group(2).lower() if m else ""
    auth = auth.rsplit("@", 1)[-1]
    return auth.split(":", 1)[0]


def path_of(url: str) -> str:
    m = _URL_RX.match(url.strip())
    if not m:
        return ""
    return m.group(3) or "/"


# ---------------------------------------------------------------------------
# Synthetic corpus generation (FIXTURES.md §1-3). The fetch universe: in the
# sandbox a "fetch" is a join of the frontier against this table — the live
# HTTP GET path (/root/reference/internal/processor/job_processor.go:111-134)
# is out of scope per SURVEY.md §2 O7.
# ---------------------------------------------------------------------------

EPOCH = datetime(2024, 12, 7, 0, 0, 0, tzinfo=timezone.utc)


def page_host_index(i: int, n_hosts: int) -> int:
    """Deliberately skewed host assignment: host 0 owns ~30% of URLs (to
    exercise salting / AQE skew handling), the rest uniform."""
    if n_hosts <= 1:
        return 0
    if dhash(f"page-{i}", "skew") % 10 < 3:
        return 0
    return 1 + dhash(f"page-{i}", "host") % (n_hosts - 1)


def page_url(i: int, n_hosts: int) -> str:
    return f"https://host{page_host_index(i, n_hosts)}.example.com/page/{i}"


def make_ip(url: str) -> str:
    h = dhash(url, "ip")
    return f"{(h >> 24) & 0xFF}.{(h >> 16) & 0xFF}.{(h >> 8) & 0xFF}.{h & 0xFF}"


def is_malformed(url: str) -> bool:
    """~5% of pages get a <3-line body to exercise the parse-error path
    (receiver_response_parser.go:20-22 -> skip-on-error,
    rabbitmq_consumer.go:84-87)."""
    return dhash(url, "malformed") % 20 == 0


LINK_PREFIX = "Link: "


def outlinks_of(url: str, n_pages: int, n_hosts: int) -> list[str]:
    """Deterministic outlink targets of a page: 0-2 links, hash-derived.
    Malformed pages yield none (their single-line body is never parsed, so
    the engine could not extract links from them anyway)."""
    if is_malformed(url):
        return []
    n = dhash(url, "nlinks") % 3
    return [
        page_url(dhash(url, f"link-{j}") % n_pages, n_hosts)
        for j in range(n)
    ]


def build_page(i: int, n_hosts: int, filler_lines: int = 0, n_pages: int | None = None) -> dict:
    """``filler_lines`` appends hash-derived non-prefix lines to the body —
    realistic page bulk (real HTML dwarfs the extracted fields). The parser
    ignores lines without a known prefix (receiver_response_parser.go:26-34
    loop semantics), so golden text parity is unaffected; fixtures used by
    the parity tests keep the default 0.

    Outlinks (``n_pages`` set): 0-2 deterministic ``Link: <url>`` lines
    embedded in the body AND surfaced in the returned dict's ``outlinks``
    key (the simulator reads the key; the engine must extract the lines
    from the html — SURVEY.md §2 O2 frontier growth)."""
    url = page_url(i, n_hosts)
    host = host_of(url)
    warc_ts = EPOCH + timedelta(seconds=i)
    links: list[str] = []
    if is_malformed(url):
        body = f"malformed body for {url}"
        text = None
    else:
        ua = chrome_user_agent(url)
        ip = make_ip(url)
        body = RESPONSE_TEMPLATE.format(ua=ua, ip=ip, fh=host)
        if filler_lines:
            h = dhash(url, "filler")
            body += "".join(
                f"\nx{(h + j) & 0xFFFFFFFF:08x} filler content line {j}"
                for j in range(filler_lines)
            )
        if n_pages is not None:
            links = outlinks_of(url, n_pages, n_hosts)
            body += "".join(f"\n{LINK_PREFIX}{t}" for t in links)
        parsed = parse_receiver_response(body)
        assert parsed is not None
        text = "\n".join(parsed)
    return {
        "url": url,
        "warc_ts": warc_ts,
        "html": body.encode("utf-8"),
        "text": text,
        "lang": "en",
        "outlinks": links,
    }


def generate_pages(
    n_pages: int, n_hosts: int = 10, filler_lines: int = 0
) -> list[dict]:
    return [
        build_page(i, n_hosts, filler_lines, n_pages=n_pages)
        for i in range(n_pages)
    ]


def generate_seeds(
    n_seeds: int,
    n_pages: int,
    n_hosts: int = 10,
    dup_pool: int = 50,
) -> list[dict]:
    """Initial frontier mirroring Task{ID, URL}
    (/root/reference/internal/taskqueue/queue.go:9-12) and the transmitter
    enqueue loop (cmd/transmitter/main.go:179-187): IDs ``task-1..task-N``,
    duplicates allowed (the reference enqueues the same URL 11x — dedup is
    the engine's job, SURVEY.md §2 O17), plus ~5% URLs absent from ``pages``
    to exercise the fetch-failure path (job_processor.go:130-132)."""
    seeds = []
    for i in range(1, n_seeds + 1):
        r = dhash(f"seed-{i}", "kind") % 100
        if r < 5:
            url = f"https://host0.example.com/missing/{i}"
        elif r < 25:
            url = page_url(dhash(f"seed-{i}", "dup") % min(dup_pool, n_pages), n_hosts)
        else:
            url = page_url(dhash(f"seed-{i}", "pick") % n_pages, n_hosts)
        seeds.append(
            {
                "task_id": f"task-{i}",
                "url": url,
                "priority": 1 if i % 17 == 0 else 0,
                "depth": 0,
            }
        )
    return seeds


def generate_robots(n_hosts: int = 10) -> list[dict]:
    """Politeness table (no reference counterpart; required by the north
    rule). host1 disallows the '/page/9' prefix to test robots filtering."""
    rows = []
    for h in range(n_hosts):
        host = f"host{h}.example.com"
        rows.append(
            {
                "host": host,
                "crawl_delay_s": float(1 + dhash(host, "delay") % 5),
                "disallow_prefixes": ["/page/9"] if h == 1 else [],
                "fetched_ts": EPOCH,
            }
        )
    return rows


def robots_disallowed(url: str, robots: dict[str, list[str]] | None) -> bool:
    if not robots:
        return False
    prefixes = robots.get(host_of(url), [])
    p = path_of(url)
    return any(p.startswith(pref) for pref in prefixes)


# ---------------------------------------------------------------------------
# Sequential reference-loop simulation -> golden crawl-order trace.
#
# The reference's live ordering is wall-clock/goroutine-scheduling dependent
# (3 workers racing on a cond-var, queue.go:52-61); per SURVEY.md §7 the
# reference trace is DEFINED as the sequential semantics: FIFO order within a
# batch, a barrier every ``batch_size`` tasks (cmd/transmitter/main.go:179-192),
# per-task retry up to ``retry_limit`` with exhausted -> drop
# (taskqueue/worker.go:81-95), identity epoch incrementing once per batch
# (processBatch, main.go:201-218).
#
# Engine-defined extensions the simulator also models (so the same golden
# trace covers them): first-occurrence dedup (O17), robots filtering, and a
# per-host per-round politeness budget with deferral to the next round.
# ---------------------------------------------------------------------------

OUTCOME_FETCHED = "fetched"
OUTCOME_FAILED = "failed"
OUTCOME_DROPPED = "dropped"
OUTCOME_ROBOTS = "robots_blocked"


@dataclass
class CrawlSim:
    trace: list[dict] = field(default_factory=list)
    seen_urls: set[str] = field(default_factory=set)
    rounds: int = 0
    dup_skipped: int = 0


def simulate_crawl(
    seeds: list[dict],
    pages: list[dict],
    batch_size: int = 3,
    retry_limit: int = 3,
    host_budget: int | None = None,
    robots: list[dict] | None = None,
    dedup: bool = True,
    max_rounds: int = 10_000,
    round_duration_s: float | None = None,
    discover_links: bool = False,
    max_depth: int | None = None,
    recrawl_after: int | None = None,
) -> CrawlSim:
    """Golden-trace simulator. ``pages`` rows need ``url`` and ``text``
    (text None => malformed => parse error => retried then dropped, because
    JobProcessor.Process surfaces parser errors to the retry loop,
    job_processor.go:78-94 + worker.go:81-95).

    Within a round, tasks run in (priority, enqueue-order) order — lower
    ``priority`` value first (SURVEY.md §1.3 frontier ordering); seeds
    without a priority get 0.

    Per-host politeness budget per round = min(``host_budget``, the
    crawl-delay token budget ``max(1, floor(round_duration_s /
    crawl_delay_s))`` when ``round_duration_s`` is set and the host's
    robots row carries a delay) — the north rule's "crawl-delay token
    buckets". Over-budget tasks defer to the next round.

    ``discover_links``: frontier growth (SURVEY.md §2 O2) — every FETCHED
    page's outlinks (the page dict's ``outlinks``, in order) are enqueued
    for round r+1 at priority 0 with depth = parent depth + 1, skipping
    already-enqueued canonical URLs; ``max_depth`` drops deeper links.
    Enqueue order follows the round's execution (trace) order.

    ``recrawl_after``: TTL recrawl (in_memory.go:51-61) — a task finalized
    in round r (fetched, dropped or robots-blocked) is pending again at
    round r + recrawl_after with its original priority and enqueue index;
    the crawl then runs until ``max_rounds``, the horizon.
    """
    page_ok: dict[str, bool] = {
        canonicalize_url(p["url"]): p["text"] is not None for p in pages
    }
    page_links: dict[str, list[str]] = {
        canonicalize_url(p["url"]): p.get("outlinks") or [] for p in pages
    }
    robots_map = (
        {r["host"]: r["disallow_prefixes"] for r in robots} if robots else None
    )
    delay_map: dict[str, float] = {
        r["host"]: r["crawl_delay_s"]
        for r in (robots or [])
        if r.get("crawl_delay_s") is not None
    }

    def effective_budget(host: str) -> int | None:
        parts = []
        if host_budget is not None:
            parts.append(host_budget)
        if round_duration_s is not None and host in delay_map:
            # floor of the TRUE quotient, matching the engine's
            # F.floor(round_duration_s / crawl_delay_s) (plans/crawl.py):
            # Python's float floor-division differs from floor(a / b) for
            # fractional delays (4.0 // 0.1 == 39.0, floor(4.0 / 0.1) == 40)
            parts.append(max(1, math.floor(round_duration_s / delay_map[host])))
        return min(parts) if parts else None

    sim = CrawlSim()
    enqueued: set[str] = set()
    depth_of: dict[str, int] = {}
    queue_per_round: dict[int, list[tuple[int, int, str]]] = defaultdict(list)
    for idx, s in enumerate(seeds):
        cu = canonicalize_url(s["url"])
        if dedup and cu in enqueued:
            sim.dup_skipped += 1
            continue
        enqueued.add(cu)
        depth_of[cu] = int(s.get("depth") or 0)
        prio = int(s.get("priority") or 0)
        queue_per_round[idx // batch_size].append((prio, idx, cu))

    next_idx = len(seeds)
    max_arrival = max(queue_per_round) if queue_per_round else -1
    deferred: list[tuple[int, int, str]] = []
    expiring: dict[int, list[tuple[int, int, str]]] = defaultdict(list)
    seq = 0
    r = 0
    while (r <= max_arrival or deferred or expiring) and r < max_rounds:
        tasks = sorted(
            deferred + queue_per_round.get(r, []) + expiring.pop(r, [])
        )
        deferred = []
        host_count: dict[str, int] = defaultdict(int)
        for prio, idx, cu in tasks:
            host = host_of(cu)
            blocked = robots_disallowed(cu, robots_map)
            budget = effective_budget(host)
            over = budget is not None and host_count[host] >= budget
            if over and not blocked:
                deferred.append((prio, idx, cu))
                continue
            if recrawl_after is not None:  # finalized this round
                expiring[r + recrawl_after].append((prio, idx, cu))
            if blocked:
                sim.trace.append(
                    dict(seq=seq, round=r, identity_epoch=r, url=cu, host=host,
                         attempt=1, outcome=OUTCOME_ROBOTS)
                )
                seq += 1
                continue
            host_count[host] += 1
            ok = page_ok.get(cu)
            if ok:
                sim.trace.append(
                    dict(seq=seq, round=r, identity_epoch=r, url=cu, host=host,
                         attempt=1, outcome=OUTCOME_FETCHED)
                )
                seq += 1
                sim.seen_urls.add(cu)
                if discover_links:
                    for target in page_links.get(cu, []):
                        tcu = canonicalize_url(target)
                        if tcu in enqueued:
                            continue
                        d = depth_of[cu] + 1
                        if max_depth is not None and d > max_depth:
                            continue
                        enqueued.add(tcu)
                        depth_of[tcu] = d
                        queue_per_round[r + 1].append((0, next_idx, tcu))
                        next_idx += 1
                        max_arrival = max(max_arrival, r + 1)
            else:
                # fetch miss (url absent) or parse error: retried then dropped
                for attempt in range(1, retry_limit + 1):
                    outcome = (
                        OUTCOME_FAILED if attempt < retry_limit else OUTCOME_DROPPED
                    )
                    sim.trace.append(
                        dict(seq=seq, round=r, identity_epoch=r, url=cu, host=host,
                             attempt=attempt, outcome=outcome)
                    )
                    seq += 1
        r += 1
    sim.rounds = r
    return sim
