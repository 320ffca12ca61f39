"""The workloads, their metrics and the correctness gate.

Every workload is one closed-loop client driving the engine's public API
(``CdcEngine``) on a ``local[nproc]`` session. Inputs are generated from
the seed and written as one parquet file per batch; the engine only
reads those files. The DuckDB reference (``perfbench.reference``) checks
every read result, every export and the final table outside the timed
sections.
"""

from __future__ import annotations

import os
import random
import statistics
import sys
import time
import traceback
from contextlib import nullcontext
from dataclasses import dataclass

from perfbench import stats
from perfbench.reference import Reference, text_digest

N_BUCKETS = 16
#: trickle_mor compacts after this many MOR batches
COMPACT_EVERY = 5
#: a reader probe is this many rounds of one hop export, one full scan
#: and an equal share of the lookups, interleaved so that a slow spell of
#: the host lands on one sample of each rather than on all of one kind
PROBE_ROUNDS = 3
#: lookups in each reader probe; with 20 samples the highest percentile
#: with 10 beyond it is p50
PROBE_LOOKUPS = 20
#: a probe round during which the hypervisor took more than this share of
#: the busy CPU time measured the neighbours more than the engine: it is
#: retaken, at most PROBE_RETAKES times a run
STEAL_LIMIT = 0.15
PROBE_RETAKES = 1
#: unmeasured exports and scans before the probe's measured rounds: the
#: JIT is still warming after the first, which runs about 20% slower
PROBE_WARM = 2
#: the seed of the bulk warm-up inputs is the run's seed plus this
WARM_SEED_OFFSET = 1_000_003

#: pages whose text the final-state check compares (every live url is
#: compared for presence; text on a seeded sample of this size)
CHECK_TEXT_SAMPLE = 1000

#: a bulk_cow round backfills this many batches into a fresh table
BULK = dict(batch=3000, warm_batch=2000, words=300, urls=40_000, round_batches=3)
TRICKLE = dict(base=2000, batch=200, words=40, urls=3000, max_rounds=3)


@dataclass
class Batch:
    path: str
    first: int
    last: int
    rows: int
    bytes: int


@dataclass
class Cut:
    """A committed snapshot and the highest seq applied in it."""

    sid: str | None
    hi: int


def write_batches(spec, out_dir: str, bounds: list[tuple[int, int]]) -> list[Batch]:
    """Generate the changelog for ``spec`` and write one parquet file per
    ``(first, last)`` seq range."""
    from clinvar_ingest_spark.sources.changelog import (
        generate_changelog,
        write_changelog_parquet,
    )

    os.makedirs(out_dir, exist_ok=True)
    df = generate_changelog(spec)
    out = []
    for first, last in bounds:
        part = df[(df["seq"] >= first) & (df["seq"] <= last)]
        path = os.path.join(out_dir, f"batch-{first:09d}.parquet")
        write_changelog_parquet(part, path)
        out.append(Batch(path, first, last, len(part), os.path.getsize(path)))
    return out


def grid(start: int, size: int, n: int) -> list[tuple[int, int]]:
    return [(start + i * size, start + (i + 1) * size - 1) for i in range(n)]


def data_files(root: str) -> dict[str, int]:
    """Relative path → size of every parquet data file of a table."""
    out = {}
    base = os.path.join(root, "data")
    for dirpath, _dirs, files in os.walk(base):
        for fn in files:
            if fn.endswith(".parquet"):
                p = os.path.join(dirpath, fn)
                out[os.path.relpath(p, base)] = os.path.getsize(p)
    return out


def vm_hwm_mb(pid: int | str) -> float:
    """Peak resident set size of a process, from /proc."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


class Bench:
    def __init__(self, spark, workload: str, seed: int, seconds: float,
                 work: str, tracer=None):
        self.spark = spark
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.tracer = tracer
        self.rng = random.Random(seed)
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        # measured-window samples, each a ``stats.timed()`` reading
        self.commits: list[dict] = []
        self.apply_events = 0
        #: the timed stretches that applied events (probe left out)
        self.apply_spans: list[dict] = []
        self.lookups: list[dict] = []
        #: data files each measured lookup opened
        self.lookup_files: list[int] = []
        self.exports: list[dict] = []
        self.scans: list[dict] = []
        #: the reader probe's unmeasured warm-up pass (counted as set-up)
        self.probe_warm: dict = {"wall": 0.0, "steal": 0.0}
        #: CPU ticks when the timed section started
        self.cpu_at_timed = None
        #: steal share of each probe round, and how many were retaken
        self.round_steal: list[float] = []
        self.retakes = 0
        self.changelog_bytes = 0
        self.table_bytes = 0
        self.table_files = 0
        self.timed_wall = 0.0
        #: seconds spent in the reference during set-up (not set-up cost)
        self.ref_secs = 0.0
        self.t_timed = None
        self.cuts: list[Cut] = []
        #: the table the timed section wrote last
        self.table_root = os.path.join(work, "table")
        #: reads not yet checked: (kind, key, what the engine returned)
        self.pending: list[tuple] = []
        #: wall of each set-up step, for the report
        self.steps: dict[str, float] = {}
        self._t_step = time.perf_counter()

    # ------------------------------------------------------------ helpers

    def _span(self, name: str):
        return self.tracer.span(name) if self.tracer else nullcontext()

    def _phase(self, phase: str) -> None:
        if self.tracer:
            self.tracer.phase = phase

    def step(self, name: str) -> None:
        """Close the current set-up step under ``name``."""
        now = time.perf_counter()
        self.steps[name] = round(now - self._t_step, 3)
        self._t_step = now

    def _fail(self, what: str) -> None:
        self.failed += 1
        self.problems.append(what)

    def _reference(self, files: list[str]) -> Reference:
        t = time.perf_counter()
        ref = Reference(files)
        self.ref_secs += time.perf_counter() - t
        return ref

    def engine(self, root: str, mode: str = "cow"):
        from clinvar_ingest_spark.engine import CdcEngine

        return CdcEngine(self.spark, root, n_buckets=N_BUCKETS, write_mode=mode)

    def apply(self, eng, b: Batch) -> dict:
        """One ``apply_batch`` on replay's grid; returns its timing."""
        df = self.spark.read.parquet(b.path)
        with stats.timed() as m:
            st = eng.apply_batch(
                df, b.first, b.last,
                assume_all_buckets=(b.last - b.first + 1) >= 50 * N_BUCKETS,
            )
        if st is None:
            raise RuntimeError(f"batch {b.first}-{b.last} was skipped as already committed")
        self.cuts.append(Cut(st.snapshot_id, b.last))
        return m

    def compact(self, eng) -> None:
        sid = eng.compact()
        if sid is not None:
            self.cuts.append(Cut(sid, self.cuts[-1].hi))

    def record_apply(self, m: dict, b: Batch) -> None:
        self.commits.append(m)
        self.apply_events += b.rows
        self.changelog_bytes += b.bytes

    # --------------------------------------------------------------- reads

    def lookup(self, eng, url: str, hi: int, measure: bool = True) -> None:
        self.attempted += 1
        d: dict = {}
        try:
            with self._span("op.lookup"), stats.timed() as m:
                df = eng.lookup(url, stats_out=d)
                with self._span("engine.lookup.exec"):
                    rows = df.collect()
        except Exception:
            traceback.print_exc(file=sys.stderr)
            self._fail(f"lookup {url} raised")
            return
        got = None if not rows else (text_digest(rows[0]["text"]) if len(rows) == 1 else "<dup>")
        self.pending.append(("lookup", (url, hi), got))
        if measure:
            self.lookups.append(m)
            self.lookup_files.append(d.get("files_read", 0))

    def export(self, eng, old: Cut, new: Cut, measure: bool = True) -> None:
        self.attempted += 1
        out = os.path.join(self.work, "export")
        try:
            with self._span("op.export"), stats.timed() as m:
                msg = eng.export_diff_ndjson(old.sid, new.sid, out)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            self._fail(f"export {old.hi}->{new.hi} raised")
            return
        self.pending.append(("export", (old.hi, new.hi), msg["counts"]))
        if measure:
            self.exports.append(m)

    def scan(self, eng, hi: int, measure: bool = True) -> None:
        self.attempted += 1
        try:
            with self._span("op.scan"), stats.timed() as m:
                h = eng.state_hash()
        except Exception:
            traceback.print_exc(file=sys.stderr)
            self._fail("scan raised")
            return
        self.pending.append(("scan", hi, int(h.split(":")[0])))
        if measure:
            self.scans.append(m)

    def verify(self, ref: Reference) -> None:
        """Check every read recorded since the last call against the
        reference, after the fact so that no check runs between timed
        operations."""
        t = time.perf_counter()
        urls: dict[int, set[str]] = {}
        for kind, key, _got in self.pending:
            if kind == "lookup":
                urls.setdefault(key[1], set()).add(key[0])
        texts = {hi: ref.text_digests(hi, sorted(us)) for hi, us in urls.items()}
        for kind, key, got in self.pending:
            if kind == "lookup":
                want = texts[key[1]].get(key[0])
            elif kind == "export":
                want = ref.diff_counts(*key)
            else:
                want = len(ref.state(key))
            if got != want:
                self._fail(f"{kind} {key}: engine {got} reference {want}")
        self.pending.clear()
        if self.t_timed is None:
            self.ref_secs += time.perf_counter() - t

    def apply_hops(self, n: int) -> list[tuple[Cut, Cut]]:
        """The newest ``n`` hops that applied events, newest first
        (compactions change no logical state, so their hops export
        nothing)."""
        hops = [
            (self.cuts[i - 1], self.cuts[i])
            for i in range(len(self.cuts) - 1, 0, -1)
            if self.cuts[i].hi != self.cuts[i - 1].hi
        ][:n]
        if not hops:
            raise RuntimeError("no applied hop to export")
        return hops

    def key_mix(self, ref: Reference, hi: int, since: int, n: int) -> list[str]:
        """Seeded point-lookup keys in groups of five: a url of the busiest
        tenth of hosts and one of the quieter half that changed after
        ``since``, one of each that did not, and an absent key on a real
        host. Under MOR a url that changed since the last compaction sits
        in a delta, so its lookup resolves versions and costs more; a
        fixed mix keeps the percentiles from depending on how many keys of
        each kind a seed happens to draw."""
        hosts = [h for h, _n in ref.host_event_counts(hi)]
        tiers = {"hot": set(hosts[: max(1, len(hosts) // 10)]),
                 "cold": set(hosts[len(hosts) // 2:])}
        fresh = ref.urls_changed(since, hi)
        pools: dict[tuple[str, bool], list[str]] = {}
        for u in ref.urls(hi):
            for tier, members in tiers.items():
                if u.split("/")[2] in members:
                    pools.setdefault((tier, u in fresh), []).append(u)
        keys = []
        for i in range(n):
            if i % 5 == 4:
                host = self.rng.choice(hosts)
                keys.append(f"https://{host}/page/absent-{self.rng.randrange(10**6):06d}")
                continue
            tier, is_fresh = ("hot", "cold")[i % 2], i % 5 < 2
            pool = (pools.get((tier, is_fresh)) or pools.get((tier, not is_fresh))
                    or next(iter(pools.values())))
            keys.append(self.rng.choice(pool))
        self.rng.shuffle(keys)
        return keys

    def last_rewrite_hi(self) -> int:
        """Highest seq of the last compaction, or, without one, the seq
        the newest applied hop starts from."""
        for i in range(len(self.cuts) - 1, 0, -1):
            if self.cuts[i].hi == self.cuts[i - 1].hi:
                return self.cuts[i].hi
        return self.apply_hops(1)[0][0].hi

    def reader_probe(self, eng, ref: Reference) -> None:
        """What readers pay at this point of the write stream: seeded point
        lookups, exports of the newest applied hop and full live scans, in
        ``PROBE_ROUNDS`` interleaved rounds. One unmeasured pass at the
        same table state comes first, so that no measured call pays for
        planning or compiling a new plan shape."""
        hi, since = self.cuts[-1].hi, self.last_rewrite_hi()
        hop = self.apply_hops(1)[0]
        with stats.timed() as self.probe_warm:
            for _ in range(PROBE_WARM):
                self.export(eng, *hop, measure=False)
                self.scan(eng, hi, measure=False)
            for url in self.key_mix(ref, hi, since, 3):  # both lookup plan shapes
                self.lookup(eng, url, hi, measure=False)
        keys = self.key_mix(ref, hi, since, PROBE_LOOKUPS)
        i = 0
        while i < PROBE_ROUNDS:
            kept = [(xs, len(xs)) for xs in (self.exports, self.scans,
                                              self.lookups, self.lookup_files)]
            with stats.timed() as rnd:
                self.export(eng, *hop)
                self.scan(eng, hi)
                for url in keys[i::PROBE_ROUNDS]:
                    self.lookup(eng, url, hi)
            self.round_steal.append(rnd["steal"])
            if rnd["steal"] > STEAL_LIMIT and self.retakes < PROBE_RETAKES:
                self.retakes += 1
                for xs, n in kept:
                    del xs[n:]
                continue
            i += 1

    def check_pages(self, eng, ref: Reference, hi: int) -> None:
        """The pending reads, then every live url and a seeded sample of
        page texts, against the reference."""
        from pyspark.sql import functions as F

        self.verify(ref)
        self.attempted += 1
        got = {r["url"]: r["h"] for r in eng.pages().select("url", F.md5("text").alias("h")).collect()}
        live = ref.state(hi)
        sample = sorted(live)
        if len(sample) > CHECK_TEXT_SAMPLE:
            sample = random.Random(self.seed).sample(sample, CHECK_TEXT_SAMPLE)
        want = ref.text_digests(hi, sample)
        bad = len(got.keys() ^ live.keys()) + sum(1 for u in want if got.get(u) != want[u])
        if bad:
            self._fail(f"final pages: {bad} urls missing, extra or with wrong text "
                       f"({len(live)} live, text compared on {len(want)})")

    def count_written(self, root: str, before: dict[str, int]) -> None:
        after = data_files(root)
        new = {p: s for p, s in after.items() if p not in before}
        self.table_bytes += sum(new.values())
        self.table_files += len(new)

    def start_timed(self) -> None:
        self._phase("timed")
        self.cpu_at_timed = stats.cpu_ticks()
        self.t_timed = self._t_step = time.perf_counter()

    # ----------------------------------------------------------- workloads

    def run(self) -> None:
        getattr(self, self.workload)()

    def bulk_cow(self) -> None:
        """Catch-up into a fresh COW table: a few large batches of large
        tag-dense pages, every bucket touched by every batch."""
        from clinvar_ingest_spark.sources.changelog import ChangelogSpec

        c = BULK
        spec = ChangelogSpec(n_events=c["batch"] * c["round_batches"], n_urls=c["urls"],
                             words_per_page=c["words"], tag_dense=True, seed=self.seed)
        batches = write_batches(spec, os.path.join(self.work, "in"),
                                grid(0, c["batch"], c["round_batches"]))
        wb = c["warm_batch"]
        warm_spec = ChangelogSpec(n_events=wb + TRICKLE["batch"], n_urls=c["urls"],
                                  words_per_page=c["words"], tag_dense=True,
                                  seed=self.seed + WARM_SEED_OFFSET)
        warm = write_batches(warm_spec, os.path.join(self.work, "warm_in"),
                             [(0, wb - 1), (wb, wb + TRICKLE["batch"] - 1)])
        self.step("inputs")
        # warm-up on a throwaway table: a COW apply of the same pages
        # (every bucket touched); the read paths warm up at the start of
        # the reader probe. A traced run also applies one MOR batch and
        # compacts, so those layers report their warm-up calls instead
        # of nothing.
        wroot = os.path.join(self.work, "warm_table")
        self.cuts = [Cut(None, -1)]
        self.apply(self.engine(wroot), warm[0])
        self.step("warm_cow")
        if self.tracer:
            self.apply(self.engine(wroot, "mor"), warm[1])
            self.compact(self.engine(wroot, "mor"))
            self.step("warm_mor_compact")
        ref = self._reference([b.path for b in batches])

        # rounds of identical work: every round backfills the same batches
        # into a fresh table, so no metric depends on how many rounds fit
        self.start_timed()
        rounds = 0
        with stats.timed() as span:
            while not rounds or time.perf_counter() - self.t_timed < self.seconds:
                self.table_root = os.path.join(self.work, f"table-{rounds}")
                eng = self.engine(self.table_root)
                self.cuts = [Cut(None, -1)]
                for b in batches:
                    self.record_apply(self.apply(eng, b), b)
                self.count_written(self.table_root, {})
                rounds += 1
        self.apply_spans.append(span)
        self.timed_wall = span["wall"]
        self.step("timed")
        self.reader_probe(eng, ref)
        self.step("probe")
        self._phase("check")
        self.check_pages(eng, ref, self.cuts[-1].hi)
        self.step("check")
        ref.close()

    def trickle_mor(self) -> None:
        """Steady-state tail with readers: rounds of small MOR batches,
        one ``apply_batch`` each on replay's grid, and a compaction after
        every ``COMPACT_EVERY`` of them. Before the last round's
        compaction a reader probe runs over the uncompacted deltas; its
        time is left out of the apply rate."""
        from clinvar_ingest_spark.sources.changelog import ChangelogSpec

        c = TRICKLE
        n_trickle = 1 + COMPACT_EVERY * c["max_rounds"]
        spec = ChangelogSpec(n_events=c["base"] + c["batch"] * n_trickle, n_urls=c["urls"],
                             words_per_page=c["words"], seed=self.seed)
        base, *trickle = write_batches(
            spec, os.path.join(self.work, "in"),
            [(0, c["base"] - 1)] + grid(c["base"], c["batch"], n_trickle),
        )
        ref = self._reference([base.path] + [b.path for b in trickle])
        self.step("inputs")
        root = self.table_root
        # base table, then warm-up: the stream's first MOR batch and a
        # compaction (the timed loop starts from a compacted base either
        # way); the read paths warm up at the start of the reader probe
        self.apply(self.engine(root), base)
        self.step("base")
        eng = self.engine(root, "mor")
        self.apply(eng, trickle[0])
        self.step("warm_mor")
        self.compact(eng)
        self.step("warm_compact")

        before = data_files(root)
        self.start_timed()
        probe_wall = 0.0
        pending = trickle[1:]
        while pending:
            rnd, pending = pending[:COMPACT_EVERY], pending[COMPACT_EVERY:]
            with stats.timed() as span:
                for b in rnd:
                    self.record_apply(self.apply(eng, b), b)
            self.apply_spans.append(span)
            last = not pending or time.perf_counter() - self.t_timed - probe_wall >= self.seconds
            if last:
                t = time.perf_counter()
                self.reader_probe(eng, ref)
                probe_wall = time.perf_counter() - t
            with stats.timed() as span:
                self.compact(eng)
            self.apply_spans.append(span)
            if last:
                break
        self.timed_wall = time.perf_counter() - self.t_timed
        self.count_written(root, before)
        self.step("timed")
        self._phase("check")
        self.check_pages(eng, ref, self.cuts[-1].hi)
        self.step("check")
        ref.close()

    # ------------------------------------------------------------- metrics

    def end_to_end(self, setup_s: float, peak_rss_mb: float) -> dict:
        """Every time is a run time (``stats.run_time``): its wall less the
        share of busy CPU time the hypervisor took meanwhile."""
        def med(xs):
            return statistics.median(stats.run_time(m) for m in xs)

        lookups = [stats.run_time(m) for m in self.lookups]
        lt = stats.tail(lookups)
        apply_s = sum(stats.run_time(m) for m in self.apply_spans)
        return {
            "setup_s": (setup_s, "s"),
            "apply_events_per_s": (self.apply_events / apply_s, "events/s"),
            "commit_p50_s": (med(self.commits), "s"),
            "write_amp": (self.table_bytes / self.changelog_bytes, "ratio"),
            "lookup_p50_s": (statistics.median(lookups), "s"),
            "lookup_tail_s": (lt[1] if lt else max(lookups), "s"),
            "diff_export_s": (med(self.exports), "s"),
            "scan_s": (med(self.scans), "s"),
            "peak_rss_mb": (peak_rss_mb, "MB"),
        }

