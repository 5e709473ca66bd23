"""The crawl engine: a driver-side round loop where each round is one Spark
job pipeline — the declarative replacement for the reference's transmitter
loop (/root/reference/cmd/transmitter/main.go:173-218):

    unprocessed set   (seeds ∪ discovered ⟕anti live processed) — built
                      ONCE per run() at the resume boundary (sharded-Bloom
                      prefilter + exact anti-join against the committed
                      history), then held as a localCheckpoint'ed frame
                      and advanced by each round's own keys only
      → pending = unprocessed filtered to arrival_round <= r
      → robots broadcast-join (disallow prefixes + crawl_delay_s)
      → per-host window top-k ordered by (priority, queue_seq), budget =
        min(host_budget, crawl-delay token budget), salted vs skew —
        cached ONCE; selected / deferred / blocked rows all read it
      → "fetch" = join against the page corpus (O7: the sandbox fetch is a
         join; a live fetch would be pooled HTTP in mapInPandas)
      → vectorized extraction UDF (O8, byte-identical)
      → link discovery (O2 frontier growth: Link: lines → canonicalize →
        dedup vs all-enqueued → next-round frontier rows at depth+1)
      → retry expansion (O6: attempts column + posexplode — deterministic
         failures re-emit retry_limit attempt rows, exhausted -> dropped)
      → append trace / seen / results / processed / frontier snapshots
        + lineage (one accounting aggregation per round)
      → advance the unprocessed set: ⟕anti the round's processed keys,
        ∪ the round's discoveries, re-checkpoint (under a recrawl TTL,
        the rows that round r - recrawl_after processed re-enter it at
        round r, read from that round's snapshot alone)

So a round costs O(wave + pending), not O(crawl history): no per-round
Bloom upkeep and no per-round anti-join against every committed
``processed`` snapshot.

Batch barriers (queue.go:64-71 / worker_manager.go:131-138) become Spark
action boundaries: one committed round == one drained batch. The identity
epoch counter increments once per round where the reference rotates Tor
identity (main.go:201-218) — control plane only, recorded in lineage.

Crash safety / resume: all writes land as uncommitted snapshot dirs and are
published atomically by the manifest commit at the end of the round; a rerun
resumes from the last committed round and reproduces the identical final
state (pytest-gated).
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from web_scraper_v1_spark.functions import urls as U
from web_scraper_v1_spark.functions.extraction import extract_receiver_response
from web_scraper_v1_spark.operators import ordering
from web_scraper_v1_spark.operators.frontier import (
    apply_robots,
    per_host_topk,
    prepare_seeds,
)
from web_scraper_v1_spark.operators.ordering import global_prefix_sum
from web_scraper_v1_spark.operators.seen import SeenSet
from web_scraper_v1_spark.sources.snapshots import SnapshotStore

TRACE_SCHEMA = T.StructType(
    [
        T.StructField("seq", T.LongType(), False),
        T.StructField("round", T.IntegerType(), False),
        T.StructField("identity_epoch", T.IntegerType(), False),
        T.StructField("url", T.StringType(), False),
        T.StructField("host", T.StringType(), True),
        T.StructField("attempt", T.IntegerType(), False),
        T.StructField("outcome", T.StringType(), False),
    ]
)

SEEN_SCHEMA = T.StructType(
    [
        T.StructField("url_hash", T.LongType(), False),
        T.StructField("url", T.StringType(), False),
        T.StructField("round", T.IntegerType(), False),
    ]
)

RESULTS_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("user_agent", T.StringType(), True),
        T.StructField("ip_address", T.StringType(), True),
        T.StructField("forwarded_host", T.StringType(), True),
        T.StructField("round", T.IntegerType(), False),
    ]
)

PROCESSED_SCHEMA = T.StructType(
    [
        T.StructField("url_hash", T.LongType(), False),
        T.StructField("url", T.StringType(), False),
        T.StructField("round", T.IntegerType(), False),
        T.StructField("outcome", T.StringType(), False),
    ]
)

# the growing frontier (SURVEY.md §1.3 schema): seed tasks are derived
# deterministically from the seeds input each run; DISCOVERED tasks are
# committed here so queue_seq assignment survives resume
FRONTIER_COLS = (
    "queue_seq",
    "priority",
    "depth",
    "canonical_url",
    "url_hash",
    "host",
    "path",
    "arrival_round",
)

FRONTIER_SCHEMA = T.StructType(
    [
        T.StructField("queue_seq", T.LongType(), False),
        T.StructField("priority", T.IntegerType(), False),
        T.StructField("depth", T.IntegerType(), False),
        T.StructField("canonical_url", T.StringType(), False),
        T.StructField("url_hash", T.LongType(), False),
        T.StructField("host", T.StringType(), True),
        T.StructField("path", T.StringType(), True),
        T.StructField("arrival_round", T.IntegerType(), False),
    ]
)

# engine-side twin of fixtures.LINK_PREFIX link lines: one capture per
# ``Link: <url>`` body line (the parser ignores unknown prefixes, so link
# lines never affect byte-identical extraction)
LINK_LINE_RX = r"(?m)^Link: (.*)$"


@dataclass
class RoundStats:
    round: int
    wave_size: int
    fetched: int
    dropped: int
    robots_blocked: int
    deferred: int
    attempts: int
    bytes_fetched: int
    seq_start: int
    seq_end: int
    duration_s: float
    discovered: int = 0
    # failure-mode attribution (error_kind -> count): timeout/refused/
    # transport/non200 in live mode, miss in corpus mode, parse for
    # status-200 bodies the extractor rejected (job_processor.go:126-132)
    failure_kinds: dict = field(default_factory=dict)


class CrawlEngine:
    def __init__(
        self,
        spark: SparkSession,
        run_dir: str,
        batch_size: int = 3,
        retry_limit: int = 3,
        host_budget: int | None = None,
        salt_buckets: int = 16,
        use_bloom: bool = True,
        bloom_bits: int = 1 << 23,
        recrawl_after: int | None = None,
        round_duration_s: float | None = None,
        discover_links: bool = False,
        max_depth: int | None = None,
        broadcast_wave: bool | None = None,
        host_buckets: int | None = None,
        fetcher=None,
    ):
        self.spark = spark
        self.store = SnapshotStore(run_dir)
        self.store.clean_orphans()
        self.batch_size = batch_size
        self.retry_limit = retry_limit
        self.host_budget = host_budget
        self.salt_buckets = salt_buckets
        # TTL semantics (in_memory.go:51-61): a processed URL older than
        # ``recrawl_after`` rounds expires from the live seen view, so it
        # re-enters pending and is refetched — the engine's recrawl policy.
        # Within a run the expiry is incremental (round r re-admits the
        # rows round r - recrawl_after processed); at the resume boundary
        # the exact join runs against the TTL-filtered live set.
        self.recrawl_after = recrawl_after
        # North-rule crawl-delay token buckets: when set, each host's
        # per-round budget is max(1, floor(round_duration_s /
        # robots.crawl_delay_s)) — a round models this many seconds of
        # politeness-limited fetching; combined with ``host_budget`` via min.
        self.round_duration_s = round_duration_s
        # Frontier growth (SURVEY.md §2 O2: "unionByName of new discoveries
        # into the frontier table"): fetched pages' ``Link:`` lines become
        # next-round tasks at depth+1; ``max_depth`` bounds the expansion.
        self.discover_links = discover_links
        self.max_depth = max_depth
        # Wave-join strategy (SURVEY.md §2 O7). The wave side of the
        # fetch-join is broadcast ONLY when a politeness budget provably
        # bounds it: with ``host_budget=k`` the wave is <= k rows per host.
        # With no budget the wave can be the ENTIRE pending frontier
        # (per_host_topk selects everything) — broadcasting that is a
        # driver/executor OOM at 10^10 URLs, so the unbounded config uses a
        # shuffle equi-join instead (the skinny-join shape of
        # plans/throughput.py; Spark's runtime bloom-filter join prunes the
        # corpus scan from the wave side). ``broadcast_wave`` overrides the
        # auto choice — a real deployment would also compare
        # k * n_distinct_hosts against the broadcast threshold.
        if broadcast_wave is None:
            broadcast_wave = host_budget is not None
        self.broadcast_wave = broadcast_wave
        # Host-bucket partitioning (north rule: partitioning handled
        # explicitly): when set, the seen/processed/frontier snapshots are
        # written partitionBy(host_bucket = pmod(xxhash64(host), B)), so a
        # per-host reader (host_processed) prunes to 1/B of each snapshot's
        # files instead of full-scanning the table — at 10^10 URLs the
        # difference between listing one bucket directory and 10^10 rows.
        self.host_buckets = host_buckets
        # A store written with one partitioning cannot be reopened with
        # another: mixed flat/partitioned snapshot dirs would read the flat
        # rows with host_bucket=null, and host_processed's bucket-equality
        # filter would silently drop them from per-host history. Fail fast
        # instead (the Iceberg analog: partition-spec evolution is an
        # explicit migration, not an open-time flag flip).
        for table in ("seen", "processed", "frontier"):
            if not self.store.committed_paths(table):
                continue
            existing = self.store.partition_column(table)
            wanted = "host_bucket" if host_buckets else None
            if existing != wanted:
                raise ValueError(
                    f"store at {run_dir!r} has '{table}' snapshots "
                    f"partitioned by {existing!r} but the engine was opened "
                    f"with host_buckets={host_buckets!r}; reopen with the "
                    "matching config or compact/migrate the store first"
                )
        # Live-fetch seam (O7): ``fetcher`` maps the selected wave
        # DataFrame to (canonical_url, status, html) — e.g.
        # sources/livefetch.live_fetch over real HTTP. None = sandbox
        # fetch-as-join against the page corpus passed to run(). Either
        # way a missing/failed row (join miss or status != 200,
        # job_processor.go:130-132) retries then drops identically.
        self.fetcher = fetcher
        # the round's persisted live fetch, released by _run_round
        self._live_fetched: DataFrame | None = None
        # run-scoped: enqueued ⟕anti live processed, checkpointed (see run)
        self._unprocessed: DataFrame | None = None
        # consulted once per run(), at the resume boundary
        self.processed_set = SeenSet(
            spark,
            n_bits=bloom_bits,
            use_bloom=use_bloom,
            ttl_rounds=recrawl_after,
        )

    # -- state ------------------------------------------------------------
    def _load_state(self) -> tuple[int, int, int | None]:
        """Returns (next_round, next_seq, next_queue_seq) from committed
        lineage (next_queue_seq None on a fresh run)."""
        rounds = self.store.rounds()
        if not rounds:
            return 0, 0, None
        # Stream batches committed by streaming.stream_to_snapshots
        # interleave with engine rounds in the same store but carry only
        # {stream_table, batch_id, rows} meta — resume state must come
        # from the latest round that has engine keys, while the round
        # counter still advances past stream rounds.
        next_round = max(m["round"] for m in rounds) + 1
        engine_rounds = [m for m in rounds if "seq_end" in m]
        if not engine_rounds:
            return next_round, 0, None
        last = max(engine_rounds, key=lambda m: m["round"])
        return next_round, last["seq_end"] + 1, last.get("next_queue_seq")

    # seen/processed/frontier are host-bucket-partitioned when
    # self.host_buckets is set; general readers drop the partition column,
    # per-host readers (host_processed) prune on it instead
    def _bucket_expr(self, host_col):
        return F.pmod(F.xxhash64(host_col), F.lit(self.host_buckets)).cast(
            "int"
        )

    def _bucketed_schema(self, schema: T.StructType) -> T.StructType:
        return T.StructType(
            list(schema.fields)
            + [T.StructField("host_bucket", T.IntegerType(), True)]
        )

    def _read_bucketed(self, table: str, schema: T.StructType) -> DataFrame:
        if not self.host_buckets:
            return self.store.read(self.spark, table, schema)
        return self.store.read(
            self.spark, table, self._bucketed_schema(schema)
        ).drop("host_bucket")

    def trace(self) -> DataFrame:
        return self.store.read(self.spark, "trace", TRACE_SCHEMA)

    def seen(self) -> DataFrame:
        return self._read_bucketed("seen", SEEN_SCHEMA)

    def results(self) -> DataFrame:
        return self.store.read(self.spark, "results", RESULTS_SCHEMA)

    def processed(self) -> DataFrame:
        return self._read_bucketed("processed", PROCESSED_SCHEMA)

    def host_processed(self, host: str) -> DataFrame:
        """Per-host processed history WITHOUT a full table scan: the
        host_bucket partition filter (constant-folded from the literal
        host) prunes the read to one bucket directory per snapshot; the
        exact host equality then filters within the bucket. Falls back to
        a plain filtered scan when bucketing is off."""
        if not self.host_buckets:
            df = self.store.read(self.spark, "processed", PROCESSED_SCHEMA)
            return df.filter(U.host(F.col("url")) == host)
        df = self.store.read(
            self.spark, "processed", self._bucketed_schema(PROCESSED_SCHEMA)
        )
        return (
            df.filter(F.col("host_bucket") == self._bucket_expr(F.lit(host)))
            .filter(U.host(F.col("url")) == host)
            .drop("host_bucket")
        )

    def frontier(self) -> DataFrame:
        """Committed DISCOVERED frontier rows (seed rows are re-derived
        from the seeds input each run)."""
        return self._read_bucketed("frontier", FRONTIER_SCHEMA)

    def _processed_live(self, r: int) -> DataFrame:
        """The seen view effective for round ``r``: everything processed,
        minus TTL-expired rows when a recrawl policy is set."""
        df = self.processed()
        if self.recrawl_after is not None:
            df = df.filter(F.col("round") > r - self.recrawl_after)
        return df.select("url_hash", "url")

    def _enqueued_all(self, prepared: DataFrame) -> DataFrame:
        if not self.discover_links:
            return prepared
        return prepared.unionByName(self.frontier())

    def _set_unprocessed(self, df: DataFrame) -> None:
        """Checkpoint ``df`` as the new unprocessed set (eager, so the
        previous checkpoint it may read from can be released at once).
        Each round unions its discoveries in, and a union's partitions are
        the sum of its inputs'; the narrow coalesce keeps the count from
        growing with the number of rounds."""
        old = self._unprocessed
        self._unprocessed = df.coalesce(
            self.spark.sparkContext.defaultParallelism
        ).localCheckpoint(eager=True)
        if old is not None:
            _release_checkpoint(old)

    def _readmit_expired(self, enqueued_all: DataFrame, r: int) -> None:
        """TTL expiry, incrementally: the rows round ``r - recrawl_after``
        processed leave the live seen view at round ``r`` (in_memory.go
        :51-61), so they re-enter the unprocessed set. They are read from
        that round's snapshot alone, or from the compacted table once
        compaction has folded the snapshot away."""
        k = r - self.recrawl_after
        schema = (
            self._bucketed_schema(PROCESSED_SCHEMA)
            if self.host_buckets
            else PROCESSED_SCHEMA
        )
        try:
            expired = self.store.read_round(self.spark, "processed", schema, k)
        except ValueError:
            expired = self.processed().filter(F.col("round") == F.lit(k))
        if expired is None:
            return
        keys = expired.select(
            "url_hash", F.col("url").alias("canonical_url")
        )
        back = enqueued_all.join(
            F.broadcast(keys) if self.broadcast_wave else keys,
            ["url_hash", "canonical_url"],
            "left_semi",
        ).withColumn("url", F.col("canonical_url"))
        self._set_unprocessed(self._unprocessed.unionByName(back))

    # -- run ---------------------------------------------------------------
    def run(
        self,
        seeds: DataFrame,
        pages: DataFrame | None = None,
        robots: DataFrame | None = None,
        max_rounds: int = 10_000,
    ) -> list[RoundStats]:
        if pages is None and self.fetcher is None:
            raise ValueError("need a pages corpus or a fetcher")
        prepared = (
            prepare_seeds(seeds, self.batch_size)
            .select(*FRONTIER_COLS)
            .cache()
        )
        try:
            max_arrival = (
                prepared.agg(F.max("arrival_round")).collect()[0][0] or 0
            )
            # the fetch universe, canonical-keyed; urls are unique by corpus
            # construction (one row per page). With a live fetcher the corpus
            # is the network — pages is unused.
            pages_prepared = None
            if pages is not None:
                pages_prepared = pages.select(
                    U.canonicalize(F.col("url")).alias("canonical_url"),
                    F.col("html"),
                    F.octet_length(F.col("html")).alias("page_bytes"),
                )

            next_round, next_seq, next_queue_seq = self._load_state()
            if next_queue_seq is None:
                # enqueue counter starts after the raw seed ordinals (dup seeds
                # consume ordinals too — the simulator's enumerate order)
                next_queue_seq = seeds.count() if self.discover_links else 0
            if self.discover_links and next_round > 0:
                m = self.frontier().agg(F.max("arrival_round")).collect()[0][0]
                if m is not None:
                    max_arrival = max(max_arrival, m)
            # the resume boundary: the only place the committed history is
            # read whole — Bloom-prefiltered exact anti-join of everything
            # enqueued against the live processed set (rows a TTL expired by
            # next_round are already back in the result)
            self.processed_set.load(
                self._processed_live(next_round), round_id=next_round
            )
            self._set_unprocessed(
                self.processed_set.filter_new(
                    self._enqueued_all(prepared).withColumn(
                        "url", F.col("canonical_url")
                    )
                )
            )

            stats: list[RoundStats] = []
            r = next_round
            while r < max_rounds:
                enqueued_all = self._enqueued_all(prepared)
                if self.recrawl_after is not None and r != next_round:
                    self._readmit_expired(enqueued_all, r)
                pending = self._unprocessed.filter(
                    F.col("arrival_round") <= F.lit(r)
                )
                st = self._run_round(
                    r, next_seq, pending, pages_prepared, robots,
                    enqueued_all=enqueued_all, next_queue_seq=next_queue_seq,
                )
                if st is None:
                    if r > max_arrival and self.recrawl_after is None:
                        break
                    # empty round before all seeds have arrived (or between a
                    # fetch and its TTL expiry under a recrawl policy): commit
                    # nothing, advance; with recrawl_after set, max_rounds is
                    # the crawl horizon (matches the simulator's empty-batch
                    # no-op)
                    r += 1
                    continue
                stats.append(st)
                next_seq = st.seq_end + 1
                next_queue_seq += st.discovered
                if st.discovered:
                    max_arrival = max(max_arrival, r + 1)
                r += 1
            return stats
        finally:
            prepared.unpersist()
            if self._unprocessed is not None:
                _release_checkpoint(self._unprocessed)
                self._unprocessed = None

    def _wave_join(
        self, pages_prepared: DataFrame, selected: DataFrame
    ) -> tuple[DataFrame, DataFrame | None]:
        """The fetch join (O7): wave side broadcast only when
        ``self.broadcast_wave`` (see __init__); otherwise a shuffle
        equi-join on canonical_url. Returns (hits, failures): in live
        mode ``failures`` carries (canonical_url, error_kind) for the
        non-200/transport rows so the round lineage can attribute
        failure modes (the reference logs the error class,
        job_processor.go:126-132); None in corpus mode, where a miss has
        exactly one cause (absent from the corpus)."""
        wave = F.broadcast(selected) if self.broadcast_wave else selected
        if self.fetcher is not None:
            # live mode: fetch the wave over the network, keep the 200s as
            # the "corpus side" (bounded by the wave, so the same join
            # strategy reasoning applies), join task metadata back on.
            # Persisted: the hits join and the failure-kind tally both
            # read it, and a network fetch must run ONCE per round (a
            # real deployment would also checkpoint the fetched wave to
            # the store before parsing — same commit protocol).
            fetched = self.fetcher(selected).persist()
            self._live_fetched = fetched
            fetched_ok = fetched.filter(
                F.col("status") == F.lit(200)
            ).select(
                "canonical_url",
                "html",
                F.octet_length("html").alias("page_bytes"),
            )
            failures = fetched.filter(F.col("status") != F.lit(200))
            if "error_kind" in fetched.columns:
                failures = failures.select("canonical_url", "error_kind")
            else:  # custom fetcher predating the failure taxonomy
                failures = failures.select(
                    "canonical_url",
                    F.lit("transport").alias("error_kind"),
                )
            return fetched_ok.join(wave, "canonical_url", "inner"), failures
        return pages_prepared.join(wave, "canonical_url", "inner"), None

    def _run_round(
        self,
        r: int,
        seq_base: int,
        pending: DataFrame,
        pages_prepared: DataFrame,
        robots: DataFrame | None,
        enqueued_all: DataFrame | None = None,
        next_queue_seq: int = 0,
    ) -> RoundStats | None:
        """Run round ``r`` over ``pending``; None when it has no tasks.
        Every round-scoped cache is released on every exit path — the
        empty-round return and a raise included."""
        cached: list[DataFrame] = []
        try:
            return self._round(
                r, seq_base, pending, pages_prepared, robots,
                enqueued_all, next_queue_seq, cached,
            )
        finally:
            for df in cached:
                df.unpersist()
            if self._live_fetched is not None:
                self._live_fetched.unpersist()
                self._live_fetched = None
            ordering.release_cached()

    def _round(
        self,
        r: int,
        seq_base: int,
        pending: DataFrame,
        pages_prepared: DataFrame,
        robots: DataFrame | None,
        enqueued_all: DataFrame | None,
        next_queue_seq: int,
        cached: list[DataFrame],
    ) -> RoundStats | None:
        def keep(df: DataFrame) -> DataFrame:
            cached.append(df.cache())
            return cached[-1]

        # a union's partitions are the sum of its inputs': the round's
        # unions of wave- and pending-bounded frames would otherwise fan
        # out to dozens of near-empty tasks per stage and files per
        # snapshot. The pending set itself is held at this width.
        width = self.spark.sparkContext.defaultParallelism

        t0 = time.monotonic()
        checked = apply_robots(pending, robots)
        budget_col = None
        if self.round_duration_s is not None:
            # crawl-delay token budget, constant per host (null delay ->
            # null -> unlimited from this term; host_budget still caps)
            checked = checked.withColumn(
                "_budget",
                F.when(
                    F.col("crawl_delay_s").isNotNull(),
                    F.greatest(
                        F.lit(1),
                        F.floor(
                            F.lit(float(self.round_duration_s))
                            / F.col("crawl_delay_s")
                        ).cast("int"),
                    ),
                ),
            )
            budget_col = "_budget"
        ranked = per_host_topk(
            checked.filter(~F.col("robots_blocked")),
            self.host_budget,
            order_cols=("priority", "queue_seq"),
            salt_buckets=self.salt_buckets,
            budget_col=budget_col,
        )
        # ONE materialization of the round's selection: the wave, the
        # deferred rows and the robots-blocked rows are all read from this
        # cache, so robots and the top-k windows run once per round
        selection = keep(
            ranked.unionByName(
                checked.filter(F.col("robots_blocked")).withColumn(
                    "selected", F.lit(False)
                )
            ).coalesce(width)
        )
        selected = selection.filter(F.col("selected")).drop("selected")
        deferred_rows = selection.filter(
            ~F.col("selected") & ~F.col("robots_blocked")
        )
        blocked = selection.filter(F.col("robots_blocked"))

        # -- fetch = join wave against the corpus. When a host budget
        # provably bounds the wave (self.broadcast_wave), broadcast it so
        # the 100 TB corpus never shuffles: an inner broadcast-hash join
        # finds hits, misses come from a broadcast anti-join of the wave
        # against the hit keys. With NO budget the wave can be the whole
        # pending frontier — unbroadcastable at 10^10 URLs — so both joins
        # fall back to shuffle equi-joins on canonical_url (the runtime
        # bloom-filter join injected from the wave side prunes the corpus
        # scan; AQE picks the physical strategy from runtime sizes).
        hits, fetch_failures = self._wave_join(pages_prepared, selected)
        if self.broadcast_wave and self.fetcher is None:
            # the broadcast join keeps the corpus scan and the Arrow
            # extraction UDF in ONE stage — measured bimodally 3-10x
            # slower on this VM at >=16 tasks (BENCH.md §4), and on a
            # real cluster it couples scan IO with Python CPU. The wave
            # bounds the hit set, so one cheap exchange moves the parse
            # stage off the scan. (The shuffle-join path already has an
            # exchange here; the live-fetch path never scans parquet.)
            # One parse task per core: the hit set is wave-bounded.
            hits = hits.repartition(width, "canonical_url")
        parsed = keep(hits.withColumn(
            "r", extract_receiver_response(F.col("html"))
        ).select(
            "queue_seq",
            "priority",
            "depth",
            "canonical_url",
            "url_hash",
            "host",
            "page_bytes",
            # outlink discovery source: JVM-side regex over the body
            # (link lines are ignored by the byte-parity extractor);
            # skipped entirely when discovery is off
            (
                F.regexp_extract_all(
                    F.decode("html", "UTF-8"), F.lit(LINK_LINE_RX), 1
                )
                if self.discover_links
                else F.array().cast("array<string>")
            ).alias("outlinks"),
            F.col("r.user_agent").alias("user_agent"),
            F.col("r.ip_address").alias("ip_address"),
            F.col("r.forwarded_host").alias("forwarded_host"),
            F.col("r.parse_error").alias("parse_error"),
        ))
        hit_keys = parsed.select("canonical_url")
        misses = selected.join(
            F.broadcast(hit_keys) if self.broadcast_wave else hit_keys,
            "canonical_url",
            "left_anti",
        )
        if fetch_failures is not None:
            # live mode: attach the fetcher's failure-mode attribution
            # (timeout | refused | transport | non200); the failure frame
            # is wave-bounded, same join-strategy reasoning as the wave
            misses = misses.join(
                F.broadcast(fetch_failures)
                if self.broadcast_wave
                else fetch_failures,
                "canonical_url",
                "left",
            ).withColumn(
                "error_kind", F.coalesce("error_kind", F.lit("transport"))
            )
        else:
            # corpus mode: a miss has exactly one cause — the URL is
            # absent from the corpus (the status != 200 analog)
            misses = misses.withColumn("error_kind", F.lit("miss"))
        misses = misses.select(
            "queue_seq",
            "priority",
            "canonical_url",
            "url_hash",
            "host",
            F.lit(None).cast("long").alias("page_bytes"),
            F.lit(None).cast("string").alias("user_agent"),
            F.lit(None).cast("string").alias("ip_address"),
            F.lit(None).cast("string").alias("forwarded_host"),
            F.lit(True).alias("parse_error"),
            "error_kind",
        )
        fetch_rows = (
            parsed.drop("depth", "outlinks")
            .withColumn(
                "error_kind",
                F.when(F.col("parse_error"), F.lit("parse")),
            )
            .unionByName(misses)
        )

        # -- task rows: one per finalized task, with its attempt count.
        # fetch-or-parse failure => retried then dropped (deterministic
        # sandbox: every retry fails identically), worker.go:81-95.
        common = [
            "queue_seq",
            "priority",
            "canonical_url",
            "url_hash",
            "host",
            "outcome_kind",
            "n_attempts",
            "user_agent",
            "ip_address",
            "forwarded_host",
            "page_bytes",
            "error_kind",
        ]
        ok = ~F.col("parse_error")
        fetched_rows = (
            fetch_rows.withColumn(
                "outcome_kind",
                F.when(ok, F.lit("fetched")).otherwise(F.lit("failing")),
            )
            .withColumn(
                "n_attempts",
                F.when(ok, F.lit(1)).otherwise(F.lit(self.retry_limit)),
            )
            .select(*common)
        )
        blocked_rows = blocked.select(
            "queue_seq",
            "priority",
            "canonical_url",
            "url_hash",
            "host",
            F.lit("blocked").alias("outcome_kind"),
            F.lit(1).alias("n_attempts"),
            F.lit(None).cast("string").alias("user_agent"),
            F.lit(None).cast("string").alias("ip_address"),
            F.lit(None).cast("string").alias("forwarded_host"),
            F.lit(None).cast("long").alias("page_bytes"),
            F.lit(None).cast("string").alias("error_kind"),
        )
        task_rows = keep(
            fetched_rows.unionByName(blocked_rows).coalesce(width)
        )

        # -- ONE accounting aggregation per round: outcome counts, attempt
        # and byte sums, per-partition histogram, and the deferred count
        # all come from a single grouped collect over (kind, partition) —
        # the result is <= kinds x partitions rows, driver-tiny. This also
        # materializes the task_rows cache.
        accounting = task_rows.select(
            "outcome_kind",
            "error_kind",
            F.col("n_attempts").cast("long").alias("att"),
            F.coalesce("page_bytes", F.lit(0)).cast("long").alias("bytes"),
        ).unionByName(
            deferred_rows.select(
                F.lit("deferred").alias("outcome_kind"),
                F.lit(None).cast("string").alias("error_kind"),
                F.lit(0).cast("long").alias("att"),
                F.lit(0).cast("long").alias("bytes"),
            )
        )
        agg = (
            accounting.groupBy(
                "outcome_kind",
                "error_kind",
                F.spark_partition_id().alias("pid"),
            )
            .agg(
                F.count("*").alias("n"),
                F.sum("att").alias("att"),
                F.sum("bytes").alias("bytes"),
            )
            .collect()
        )
        by_kind: dict[str, int] = {}
        failure_kinds: dict[str, int] = {}
        part_hist: dict[str, int] = {}
        n_attempts = n_bytes = 0
        for row in agg:
            by_kind[row.outcome_kind] = by_kind.get(row.outcome_kind, 0) + row.n
            if row.error_kind is not None:
                failure_kinds[row.error_kind] = (
                    failure_kinds.get(row.error_kind, 0) + row.n
                )
            if row.outcome_kind != "deferred":
                part_hist[str(row.pid)] = (
                    part_hist.get(str(row.pid), 0) + row.n
                )
                n_attempts += row.att
                n_bytes += row.bytes
        n_deferred = by_kind.get("deferred", 0)
        n_fetched = by_kind.get("fetched", 0)
        n_dropped = by_kind.get("failing", 0)
        n_blocked = by_kind.get("blocked", 0)
        n_tasks = n_fetched + n_dropped + n_blocked
        if n_tasks == 0:
            return None

        # -- global sequential trace ((priority, queue) order): each task
        # occupies n_attempts consecutive seqs. The prefix sum over the
        # global order is computed shuffle-parallel (range partition +
        # per-partition windows + driver prefix of per-partition totals,
        # operators/ordering.py) — no single-partition sort even when the
        # wave is the whole unbudgeted frontier.
        exploded = (
            global_prefix_sum(
                task_rows,
                ("priority", "queue_seq"),
                F.col("n_attempts"),
                "_start",
            )
            .select(
                "*",
                F.posexplode(F.sequence(F.lit(1), F.col("n_attempts"))).alias(
                    "_i", "attempt"
                ),
            )
            .withColumn(
                "outcome",
                F.when(F.col("outcome_kind") == "fetched", F.lit("fetched"))
                .when(F.col("outcome_kind") == "blocked", F.lit("robots_blocked"))
                .when(
                    F.col("attempt") < F.lit(self.retry_limit),
                    F.lit("failed"),
                )
                .otherwise(F.lit("dropped")),
            )
            .withColumn(
                "seq",
                F.lit(seq_base) + F.col("_start") + F.col("attempt") - 1,
            )
        )
        trace_df = exploded.select(
            F.col("seq").cast("long"),
            F.lit(r).cast("int").alias("round"),
            F.lit(r).cast("int").alias("identity_epoch"),
            F.col("canonical_url").alias("url"),
            "host",
            F.col("attempt").cast("int"),
            "outcome",
        )

        seen_df = (
            task_rows.filter(F.col("outcome_kind") == "fetched")
            .select(
                "url_hash",
                F.col("canonical_url").alias("url"),
                F.lit(r).cast("int").alias("round"),
            )
        )
        results_df = task_rows.filter(
            F.col("outcome_kind") == "fetched"
        ).select(
            F.col("canonical_url").alias("url"),
            "user_agent",
            "ip_address",
            "forwarded_host",
            F.lit(r).cast("int").alias("round"),
        )
        processed_df = task_rows.select(
            "url_hash",
            F.col("canonical_url").alias("url"),
            F.lit(r).cast("int").alias("round"),
            F.when(F.col("outcome_kind") == "fetched", "fetched")
            .when(F.col("outcome_kind") == "blocked", "robots_blocked")
            .otherwise("dropped")
            .alias("outcome"),
        )

        # -- link discovery: fetched pages' outlinks become next-round
        # frontier rows (O2 frontier growth). Dedup is two-stage: first
        # occurrence within the round's discoveries (window keyed by the
        # canonical URL, parent-trace order), then an anti-join against
        # everything ever enqueued; enqueue order (queue_seq) is assigned
        # by the same scalable prefix-sum as the trace.
        n_discovered = 0
        frontier_add = None
        if self.discover_links:
            cand = parsed.filter(~F.col("parse_error")).select(
                F.col("priority").alias("parent_prio"),
                F.col("queue_seq").alias("parent_seq"),
                F.col("depth").alias("parent_depth"),
                F.posexplode("outlinks").alias("link_idx", "target"),
            )
            cand = (
                cand.withColumn(
                    "canonical_url", U.canonicalize(F.col("target"))
                )
                .withColumn("url_hash", U.url_hash(F.col("canonical_url")))
                .withColumn("host", U.host(F.col("target")))
                .withColumn("path", U.path(F.col("target")))
                .withColumn("depth", (F.col("parent_depth") + 1).cast("int"))
            )
            if self.max_depth is not None:
                cand = cand.filter(F.col("depth") <= self.max_depth)
            w_first = Window.partitionBy("canonical_url").orderBy(
                "parent_prio", "parent_seq", "link_idx"
            )
            firsts = (
                cand.withColumn("_rn", F.row_number().over(w_first))
                .filter(F.col("_rn") == 1)
                .drop("_rn")
            )
            fresh = firsts.join(
                enqueued_all.select("url_hash", "canonical_url"),
                ["url_hash", "canonical_url"],
                "left_anti",
            )
            assigned = global_prefix_sum(
                fresh,
                ("parent_prio", "parent_seq", "link_idx"),
                F.lit(1),
                "_rank",
            )
            frontier_add = keep(assigned.select(
                (F.lit(next_queue_seq) + F.col("_rank"))
                .cast("long")
                .alias("queue_seq"),
                F.lit(0).cast("int").alias("priority"),
                F.col("depth"),
                "canonical_url",
                "url_hash",
                "host",
                "path",
                F.lit(r + 1).cast("int").alias("arrival_round"),
            ))
            n_discovered = frontier_add.count()

        # -- write snapshots (invisible until the manifest commit below);
        # seen/processed/frontier are host-bucket-partitioned when enabled
        def _write(df, table, host_expr=None):
            if self.host_buckets and host_expr is not None:
                return self.store.write_snapshot(
                    df.withColumn("host_bucket", self._bucket_expr(host_expr)),
                    table,
                    r,
                    partition_by="host_bucket",
                )
            return self.store.write_snapshot(df, table, r)

        url_host = U.host(F.col("url"))
        tables = {
            "trace": _write(trace_df, "trace"),
            "processed": _write(processed_df, "processed", url_host),
        }
        if n_fetched:
            tables["seen"] = _write(seen_df, "seen", url_host)
            tables["results"] = _write(results_df, "results")
        if n_discovered:
            tables["frontier"] = _write(
                frontier_add, "frontier", F.col("host")
            )

        st = RoundStats(
            round=r,
            wave_size=n_tasks,
            fetched=n_fetched,
            dropped=n_dropped,
            robots_blocked=n_blocked,
            deferred=n_deferred,
            attempts=n_attempts,
            bytes_fetched=n_bytes,
            seq_start=seq_base,
            seq_end=seq_base + n_attempts - 1,
            duration_s=round(time.monotonic() - t0, 3),
            discovered=n_discovered,
            failure_kinds=failure_kinds,
        )
        self.store.commit_round(
            r,
            tables,
            meta={
                "identity_epoch": r,
                "wave_size": st.wave_size,
                "fetched": st.fetched,
                "dropped": st.dropped,
                "robots_blocked": st.robots_blocked,
                "deferred": st.deferred,
                "attempts": st.attempts,
                "bytes_fetched": st.bytes_fetched,
                "seq_start": st.seq_start,
                "seq_end": st.seq_end,
                "duration_s": st.duration_s,
                "discovered": st.discovered,
                "next_queue_seq": next_queue_seq + n_discovered,
                "partition_histogram": part_hist,
                "failure_kinds": failure_kinds,
            },
        )
        # advance the unprocessed set by this round alone: its finalized
        # keys leave (wave-bounded anti-join side), its discoveries enter
        keys = processed_df.select("url_hash", "url")
        remaining = self._unprocessed.join(
            F.broadcast(keys) if self.broadcast_wave else keys,
            ["url_hash", "url"],
            "left_anti",
        )
        if n_discovered:
            remaining = remaining.unionByName(
                frontier_add.withColumn("url", F.col("canonical_url"))
            )
        self._set_unprocessed(remaining)
        return st


def _release_checkpoint(df: DataFrame) -> None:
    """Drop a ``localCheckpoint``'s blocks now instead of at the JVM's
    next GC: a checkpointed frame's logical plan is the LogicalRDD that
    holds them."""
    df._jdf.logicalPlan().rdd().unpersist(False)
