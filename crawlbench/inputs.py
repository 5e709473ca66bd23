"""Seeded, parameter-keyed benchmark inputs.

Page bodies come from ``fixtures.build_page`` by index, so the page corpus
depends only on its size parameters and is shared by every seed. Seeds,
duplicates, misses and the preloaded seen subset depend on the workload
seed. Every cached directory name encodes all parameters it depends on
(and the seed, where it depends on one), so a stale input is never reused.
Directories are written under a temporary name and renamed into place, so
an interrupted generation leaves nothing that looks complete.
"""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from web_scraper_v1_spark import fixtures as fx
from web_scraper_v1_spark.sources.corpus import materialize_corpus

DUP_PCT, MISS_PCT = 20, 5
SEED_MIX = f"d{DUP_PCT}-m{MISS_PCT}"  # for cache names

SEEDS_ARROW = pa.schema(
    [
        pa.field("task_id", pa.string(), nullable=False),
        pa.field("url", pa.string(), nullable=False),
        pa.field("priority", pa.int32()),
        pa.field("depth", pa.int32()),
    ]
)


def _atomic_dir(final: str, build) -> str:
    """Run ``build(tmp_dir)`` unless ``final`` exists, then rename."""
    if os.path.isdir(final):
        return final
    tmp = final + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    os.rename(tmp, final)
    return final


def page_corpus(inputs_dir: str, n_pages: int, n_hosts: int, filler: int) -> str:
    """pages.parquet + robots.parquet for ``n_pages`` fixture pages (with
    outlinks over the same universe); seed-independent."""
    final = os.path.join(inputs_dir, f"pages-n{n_pages}-h{n_hosts}-f{filler}")

    def build(tmp: str) -> None:
        materialize_corpus(
            tmp, n_pages=n_pages, n_seeds=1, n_hosts=n_hosts,
            filler_lines=filler,
        )
        # the corpus helper always writes its own unseeded seed list; the
        # benchmark's seeds are seeded and live next to the seed's files
        os.remove(os.path.join(tmp, "seeds.parquet"))

    return _atomic_dir(final, build)


def _variant(url: str, k: int) -> str:
    """A non-canonical spelling of a canonical fixture URL, so duplicates
    exercise canonicalization as well as dedup."""
    scheme, rest = url.split("://", 1)
    host, path = rest.split("/", 1)
    return (
        f"{scheme}://{host.upper()}/{path}",
        f"{scheme}://{host}:443/{path}",
        f"{scheme}://{host}/{path}#frag{k}",
        f"{scheme}://{host}/{path}?",
    )[k % 4]


def make_seeds(seed: int, n_seeds: int, n_pages: int, n_hosts: int) -> list[dict]:
    """``n_seeds`` frontier rows (``task-1`` .. ``task-N``): ``MISS_PCT``%
    URLs absent from the corpus, ``DUP_PCT``% re-enqueues of an earlier
    seed (half of them spelled non-canonically), the rest distinct pages
    in a seed-keyed order. Every 17th-ish seed (by hash) has priority 1."""
    order = sorted(range(n_pages), key=lambda i: fx.dhash(str(i), f"perm/{seed}"))
    seeds: list[dict] = []
    nxt = 0
    for i in range(1, n_seeds + 1):
        key = f"seed-{i}"
        r = fx.dhash(key, f"kind/{seed}") % 100
        if r < MISS_PCT:
            url = f"https://host0.example.com/missing/{seed}/{i}"
        elif r < MISS_PCT + DUP_PCT and seeds:
            j = fx.dhash(key, f"dup/{seed}") % len(seeds)
            url = seeds[j]["url"]
            if fx.dhash(key, f"variant/{seed}") % 2:
                url = _variant(fx.canonicalize_url(url), i)
        else:
            url = fx.page_url(order[nxt % n_pages], n_hosts)
            nxt += 1
        seeds.append(
            {
                "task_id": f"task-{i}",
                "url": url,
                "priority": 1 if fx.dhash(key, f"prio/{seed}") % 17 == 0 else 0,
                "depth": 0,
            }
        )
    return seeds


def seeded_inputs(inputs_dir: str, name: str, seed: int, make) -> str:
    """Directory for one workload and seed holding ``seeds.parquet`` and,
    if ``make()`` returns seen URLs, ``seen.parquet``. ``make`` returns
    ``(seed_rows, seen_urls_or_None)`` and runs only on a cache miss;
    ``name`` must encode every generation parameter."""
    final = os.path.join(inputs_dir, f"{name}-seed{seed}")

    def build(tmp: str) -> None:
        seeds, seen_urls = make()
        cols = {f.name: [s[f.name] for s in seeds] for f in SEEDS_ARROW}
        pq.write_table(
            pa.Table.from_pydict(cols, schema=SEEDS_ARROW),
            os.path.join(tmp, "seeds.parquet"),
            row_group_size=16384,
        )
        if seen_urls is not None:
            pq.write_table(
                pa.table({"url": pa.array(seen_urls, pa.string())}),
                os.path.join(tmp, "seen.parquet"),
            )

    return _atomic_dir(final, build)


def read_column(path: str, column: str) -> list:
    return pq.read_table(path, columns=[column]).column(column).to_pylist()


def golden_texts(corpus_dir: str) -> dict[str, str | None]:
    """url -> golden text, the ``fixtures.parse_receiver_response`` output
    stored with each page at generation (None for malformed pages)."""
    t = pq.read_table(os.path.join(corpus_dir, "pages.parquet"), columns=["url", "text"])
    return dict(zip(t.column("url").to_pylist(), t.column("text").to_pylist()))


def page_sizes(corpus_dir: str) -> dict[str, int]:
    t = pq.read_table(os.path.join(corpus_dir, "pages.parquet"), columns=["url", "html"])
    return dict(
        zip(t.column("url").to_pylist(), pc.binary_length(t.column("html")).to_pylist())
    )
