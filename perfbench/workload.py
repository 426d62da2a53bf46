"""Measuring process of one benchmark run; started by perfbench/run.py.

One workload, one seed: build the session through ``session.get_spark``,
generate the WAL with ``sources.walgen``, warm the JVM with an untimed
pass of the workload's full shape, then time the workload closed-loop and
check every operation against a serial pandas oracle. Writes the result
JSON to ``--out``. See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
from contextlib import contextmanager, nullcontext  # noqa: E402
from dataclasses import dataclass  # noqa: E402

import pandas as pd  # noqa: E402
import pyarrow as pa  # noqa: E402
import pyarrow.compute as pc  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from ethereum_etl_spark.functions.extract import extract_text, extract_text_udf  # noqa: E402
from ethereum_etl_spark.operators.lww import lww_winner_seqs  # noqa: E402
from ethereum_etl_spark.operators.snapshot_table import group_of_bucket  # noqa: E402
from ethereum_etl_spark.plans.engine import CDCEngine, EngineConfig  # noqa: E402
from ethereum_etl_spark.schemas import CHANGE_EVENT_SCHEMA  # noqa: E402
from ethereum_etl_spark.session import get_spark  # noqa: E402
from ethereum_etl_spark.sources.walgen import BASE_TS, WalConfig, gen_wal, write_wal  # noqa: E402

import tracing  # noqa: E402


@dataclass(frozen=True)
class Spec:
    """Shape of one workload. Everything here is fixed; the seed only
    picks the WAL's contents and the lookup keys, so every run of a
    workload runs the same epoch and compaction schedule."""

    hot_frac: float
    n_urls: int
    #: the LWW plan the skew probe must pick for every epoch
    lww_method: str
    epoch_size: int
    #: untimed epochs that build the table, then untimed rounds
    warm_epochs: int
    warm_rounds: int
    #: timed closed-loop epochs, then timed rounds
    timed_epochs: int
    timed_rounds: int
    #: events of the ingest epoch that opens each round (0: reads only)
    trickle_size: int = 0

    @property
    def n_events(self) -> int:
        return (self.warm_epochs + self.timed_epochs) * self.epoch_size + (
            self.warm_rounds + self.timed_rounds
        ) * self.trickle_size


SPECS = {
    # uniform keys over more urls than events: nearly every event is a
    # winner, so payload join + extract UDF + delta write take about half
    # of each epoch's wall and compaction about a third
    "bulk_replay": Spec(
        hot_frac=0.0, n_urls=400_000, lww_method="agg", epoch_size=10_000,
        warm_epochs=2, warm_rounds=1, timed_epochs=4, timed_rounds=3,
    ),
    # a preloaded table read between trickle epochs; one hot url holds
    # 30% of events, so the skew probe picks salted LWW for every epoch
    "serve_while_ingest": Spec(
        hot_frac=0.3, n_urls=100_000, lww_method="salted", epoch_size=20_000,
        warm_epochs=1, warm_rounds=1, timed_epochs=0, timed_rounds=3,
        trickle_size=10_000,
    ),
}

#: Every epoch commits and then compacts its two deepest compaction groups
#: (of 4). From the second epoch on those are the two groups holding 2
#: delta layers, so all timed epochs have the same shape, and every read
#: sees live delta files in the other two groups. The skew probe runs on
#: every epoch (the engine's default reuses its decision for 8 epochs),
#: so its cost is inside every timed epoch.
N_BUCKETS = 16
N_DELTA_GROUPS = 4
COMPACT_MAX_DELTAS = 1
COMPACT_GROUPS_PER_EPOCH = 2
SKEW_REPROBE_EVERY = 1
CORES = min(4, len(os.sched_getaffinity(0)))
WAL_FILE_EVENTS = 10_000
SINCE_SPAN = 10_000  # read_updated_since covers the last this-many seqs
TEXT_SAMPLE = 64
#: driver JVM young generation, a third of run.py's 3g heap
YOUNG_GEN = "1g"


class Oracle:
    """Serial pandas LWW over the WAL: winner = max (warc_ts, seq) per url."""

    def __init__(self, wal_path: str):
        parts = []
        for fn in sorted(os.listdir(wal_path)):
            if not fn.endswith(".parquet"):
                continue
            t = pq.read_table(os.path.join(wal_path, fn), columns=["seq", "op", "url", "warc_ts", "html"])
            parts.append(
                pd.DataFrame(
                    {
                        "seq": t["seq"].to_numpy(),
                        "op": t["op"].to_pandas().to_numpy(),
                        "url": t["url"].to_pandas().to_numpy(),
                        # get_spark writes TIMESTAMP_MICROS: epoch microseconds
                        "ts": t["warc_ts"].cast(pa.int64()).to_numpy(),
                        "hlen": pc.fill_null(pc.binary_length(t["html"]), 0).to_numpy(),
                    }
                )
            )
        self.events = pd.concat(parts).sort_values(["ts", "seq"]).reset_index(drop=True)
        self._states: dict[int, pd.DataFrame] = {}

    def state(self, hw: int) -> pd.DataFrame:
        """Winner row per url (tombstones included) over seq <= hw."""
        if hw not in self._states:
            if len(self._states) > 8:
                self._states.clear()
            ev = self.events[self.events["seq"] <= hw]
            self._states[hw] = ev.drop_duplicates("url", keep="last").set_index("url")
        return self._states[hw]

    def live(self, hw: int) -> pd.DataFrame:
        st = self.state(hw)
        return st[st["op"] != "delete"]

    def scan(self, hw: int) -> tuple[int, int, int]:
        live = self.live(hw)
        return len(live), int(live["seq"].sum()), int(live["hlen"].sum())

    def lookup(self, hw: int, url: str) -> int | None:
        live = self.live(hw)
        return int(live.at[url, "seq"]) if url in live.index else None

    def since(self, hw: int, ts_lo_us: int) -> tuple[int, int]:
        live = self.live(hw)
        hit = live[live["ts"] >= ts_lo_us]
        return len(hit), int(hit["seq"].sum())

    def feed(self, hw_a: int, hw_b: int) -> dict[str, tuple[int, int]]:
        """Net changes between the states at two watermarks, per change type."""
        b = self.state(hw_b)[["seq", "op"]]
        j = b.join(self.state(hw_a)[["seq", "op"]], rsuffix="_a", how="left")
        b_live = j["op"] != "delete"
        a_live = j["op_a"].notna() & (j["op_a"] != "delete")
        changed = j["seq"] != j["seq_a"]
        out = {}
        for kind, mask in (
            ("insert", b_live & ~a_live & changed),
            ("update_postimage", b_live & a_live & changed),
            ("delete", ~b_live & a_live),
        ):
            sel = j["seq"][mask]
            if len(sel):
                out[kind] = (len(sel), int(sel.sum()))
        return out


class Bench:
    def __init__(self, args):
        self.args = args
        self.spec = SPECS[args.workload]
        self.trace = args.trace == 1
        self.tracer = tracing.Tracer() if self.trace else None
        self.attempted = 0
        self.failed = 0
        self.walls: dict[str, list[float]] = {}
        self.layer: dict[str, list[float]] = {}
        self.timed = False
        self.rng = random.Random(args.seed)
        self.groups: list[str] = []
        self.spark = None

    # -- bookkeeping -----------------------------------------------------

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"perfbench: FAILED {what}", file=sys.stderr, flush=True)

    def note(self, name: str, value: float) -> None:
        if self.timed:
            self.layer.setdefault(name, []).append(value)

    @contextmanager
    def op(self, kind: str, run_id: str):
        """Time one operation; in the traced run also a root span and a
        Spark job group so its jobs and tasks can be counted."""
        sc = self.spark.sparkContext
        if self.trace:
            self.tracer.run_id = run_id
            sc.setJobGroup(run_id, kind)
        t = time.perf_counter()
        with self.tracer.span(f"op.{kind}") if self.trace else nullcontext():
            yield
        wall = time.perf_counter() - t
        if self.trace:
            sc._jsc.clearJobGroup()
            self.groups.append(run_id)
        if self.timed:
            self.walls.setdefault(kind, []).append(wall)

    # -- setup -----------------------------------------------------------

    def setup(self) -> None:
        a, spec = self.args, self.spec
        self.spark = get_spark(
            app_name=f"perfbench-{a.workload}",
            cores=CORES,
            shuffle_partitions=2 * CORES,
            extra_conf={
                "spark.local.dir": os.path.join(a.work, "local"),
                # keep the JVM's temp files and hsperfdata out of /tmp.
                # A fixed heap (-Xms = the -Xmx that spark.driver.memory
                # sets) and young generation: with G1's adaptive sizing the
                # JVM's resident size, most of peak_rss_mb, differed by up
                # to 0.9 GB between identical runs
                "spark.driver.extraJavaOptions": (
                    f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(a.work, 'tmp')}"
                    f" -Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']} -Xmn{YOUNG_GEN}"
                ),
                "spark.sql.warehouse.dir": os.path.join(a.work, "warehouse"),
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.session_start_s = time.perf_counter() - T_START

        t = time.perf_counter()
        self.wal_path = os.path.join(a.work, "wal")
        wal_cfg = WalConfig(
            n_events=spec.n_events, n_urls=spec.n_urls, seed=a.seed,
            hot_frac=spec.hot_frac, n_hot_urls=1,
        )
        write_wal(gen_wal(self.spark, wal_cfg), self.wal_path,
                  n_files=max(spec.n_events // WAL_FILE_EVENTS, 1))
        self.walgen_s = time.perf_counter() - t

        t_oracle = time.perf_counter()
        self.oracle = Oracle(self.wal_path)
        self.oracle_s = time.perf_counter() - t_oracle

        t = time.perf_counter()
        self.engine = CDCEngine(
            self.spark, self.wal_path, os.path.join(a.work, "table"),
            config=EngineConfig(
                epoch_size=spec.epoch_size,
                n_buckets=N_BUCKETS,
                n_delta_groups=N_DELTA_GROUPS,
                compact_max_deltas=COMPACT_MAX_DELTAS,
                compact_groups_per_epoch=COMPACT_GROUPS_PER_EPOCH,
                skew_reprobe_every=SKEW_REPROBE_EVERY,
            ),
        )
        self.table = self.engine.table
        if self.trace:
            tracing.install(self.tracer, self.engine)
        self.wal_df = self.spark.read.schema(CHANGE_EVENT_SCHEMA).parquet(self.wal_path)
        self.warmup()
        self.warmup_s = time.perf_counter() - t
        self.setup_s = self.session_start_s + self.walgen_s + self.warmup_s

    def pick_lookup_keys(self) -> list[str]:
        """One url per compaction group that is live at the end of the run,
        in group order. Round r looks up the key of group r % N_DELTA_GROUPS,
        so every run looks up the same mix of freshly compacted and
        delta-laden groups. A group's urls are read from its files in the
        current snapshot (base files of its buckets, its delta files)."""
        live = set(self.oracle.live(self.spec.n_events - 1).index)
        urls: dict[int, set[str]] = {g: set() for g in range(N_DELTA_GROUPS)}
        for f in self.table.current_snapshot().files:
            g = f.group if f.kind == "delta" else group_of_bucket(f.bucket, N_DELTA_GROUPS)
            col = pq.read_table(os.path.join(self.table.root, f.path), columns=["url"])["url"]
            urls[g].update(col.to_pylist())
        return [self.rng.choice(sorted(urls[g] & live)) for g in range(N_DELTA_GROUPS)]

    def warmup(self) -> None:
        """Untimed pass of the workload's full shape in this JVM: plain
        and compaction epochs, the chosen LWW plan, and every read type."""
        self.apply(self.spec.warm_epochs * self.spec.epoch_size - 1)
        self.lookup_keys = self.pick_lookup_keys()
        for r in range(self.spec.warm_rounds):
            self.round(-1 - r)

    # -- ingest ----------------------------------------------------------

    def apply(self, up_to: int) -> None:
        """Closed loop: each epoch starts when the previous one commits."""
        for epoch_id, lo, hi in self.engine.plan_epochs(up_to_seq=up_to):
            with self.op("epoch", f"epoch-{epoch_id}"):
                r = self.engine.run_epoch(epoch_id, lo, hi)
            self.check(not r.skipped and r.n_events == hi - lo, f"epoch {epoch_id} applied {r}")
            if self.timed:
                self.events_applied += r.n_events
                self.epochs.append((epoch_id, lo, hi))
                if self.trace:
                    self.probe_epoch(epoch_id, lo, hi)

    def probe_epoch(self, epoch_id: int, lo: int, hi: int) -> None:
        """Traced run only: the LWW plan and the extract UDF of this epoch,
        each materialized on its own, outside the epoch's wall."""
        entry = self.table.committed_epochs()[epoch_id]
        epoch = self.wal_df.filter((F.col("seq") > lo) & (F.col("seq") <= hi))
        light = epoch.select("seq", "url", "warc_ts", "op")
        winners = lww_winner_seqs(light, method=entry["lww_method"], n_salt=self.engine.config.n_salt)
        with self.tracer.span("lww.winner_seqs") as rec:
            winners = winners.persist()
            winners.count()
        self.note("lww.winner_seqs_s", rec["end"] - rec["start"])
        html = (
            epoch.join(F.broadcast(winners), on="seq")
            .where(F.col("html").isNotNull())
            .select("html")
            .persist()
        )
        row = html.agg(F.count("*").alias("n"), F.sum(F.length("html")).alias("b")).collect()[0]
        with self.tracer.span("extract.udf") as rec:
            html.select(extract_text_udf(F.col("html")).alias("t")).write.format("noop").mode(
                "overwrite"
            ).save()
        self.note("extract.udf_s", rec["end"] - rec["start"])
        self.note("extract.rows", row["n"])
        self.note("extract.html_bytes", row["b"] or 0)
        html.unpersist()
        winners.unpersist()
        self.note("table.delta_depth", max(self.table.delta_depth().values(), default=0))

    # -- reads -----------------------------------------------------------

    def round(self, r: int) -> None:
        """An optional trickle epoch, then one read of each kind."""
        if self.spec.trickle_size:
            self.apply(self.table.high_watermark() + self.spec.trickle_size)
        self.reads(r)

    def reads(self, r: int) -> None:
        snap = self.table.current_snapshot()
        self.check(any(f.kind == "delta" for f in snap.files), f"read round {r} without live delta files")
        hw = self.table.high_watermark()
        self.full_scan(hw, r)
        # warmup looks up the keys of groups 0 and 2: at every read round
        # one of them was just compacted and the other holds a delta, so
        # both lookup plans are warm
        keys = self.lookup_keys[::2] if r < 0 else [self.lookup_keys[r % N_DELTA_GROUPS]]
        for key in keys:
            self.point_lookup(hw, key, r)
        self.change_feed(hw, r)
        if self.trace:
            # not an end-to-end metric: only the traced run times it
            self.updated_since(hw, r)

    def full_scan(self, hw: int, r: int) -> None:
        with self.op("full_scan", f"scan-{r}"):
            row = (
                self.engine.read_table()
                .agg(
                    F.count("*").alias("n"),
                    F.sum("seq").alias("s"),
                    F.sum(F.length("html")).alias("h"),
                    F.sum(F.length("text")).alias("t"),
                )
                .collect()[0]
            )
        got = (row["n"], row["s"] or 0, row["h"] or 0)
        self.check(got == self.oracle.scan(hw), f"full scan at hw={hw}: {got}")

    def point_lookup(self, hw: int, url: str, r: int) -> None:
        with self.op("point_lookup", f"lookup-{r}"):
            df, scanned, total = self.table.read_key(url)
            rows = [] if df is None else df.select("seq", F.length("text").alias("t")).collect()
        want = self.oracle.lookup(hw, url)
        self.check([x["seq"] for x in rows] == ([] if want is None else [want]),
                   f"lookup {url} at hw={hw}: {rows} vs {want}")
        self.note("table.read_key_files_frac", scanned / max(total, 1))

    def updated_since(self, hw: int, r: int) -> None:
        ts_lo_us = (BASE_TS + max(hw - SINCE_SPAN, 0)) * 1_000_000
        with self.op("since", f"since-{r}"):
            df, scanned, total = self.table.read_updated_since(ts_lo_us)
            row = (
                df.agg(F.count("*").alias("n"), F.sum("seq").alias("s"),
                       F.sum(F.length("text")).alias("t")).collect()[0]
                if df is not None else {"n": 0, "s": 0}
            )
        got = (row["n"], row["s"] or 0)
        self.check(got == self.oracle.since(hw, ts_lo_us), f"since at hw={hw}: {got}")
        self.note("table.since_files_frac", scanned / max(total, 1))

    def change_feed(self, hw: int, r: int) -> None:
        """Changes committed since the snapshot before the last epoch: what
        a consumer polling once per epoch reads."""
        ledger = self.table.read_ledger()
        last = max(i for i, e in enumerate(ledger) if "epoch_id" in e)
        from_sid = ledger[last - 1]["snapshot_id"] if last else None
        hw_a = max((e.get("end_seq", -1) for e in ledger[:last]), default=-1)
        a_paths = (
            {f.path for f in self.table.read_snapshot_meta(from_sid).files} if from_sid else set()
        )
        snap_b = self.table.current_snapshot()
        with self.op("change_feed", f"feed-{r}"):
            rows = (
                self.engine.changes(from_sid)
                .groupBy("change_type")
                .agg(F.count("*").alias("n"), F.sum("seq").alias("s"),
                     F.sum(F.length("text")).alias("t"))
                .collect()
            )
        got = {x["change_type"]: (x["n"], x["s"]) for x in rows}
        self.check(got == self.oracle.feed(hw_a, hw), f"change feed {hw_a}..{hw}: {got}")
        self.note("changes.rows", sum(n for n, _ in got.values()))
        self.note("changes.files_scanned", sum(1 for f in snap_b.files if f.path not in a_paths))

    # -- the timed workload ---------------------------------------------

    def run(self) -> None:
        spec = self.spec
        self.timed = True
        self.events_applied = 0
        self.epochs: list[tuple[int, int, int]] = []
        self.ledger_start = len(self.table.read_ledger())
        t = time.perf_counter()
        if spec.timed_epochs:
            self.apply(self.table.high_watermark() + spec.timed_epochs * spec.epoch_size)
        for r in range(spec.timed_rounds):
            self.round(r)
        self.timed_s = time.perf_counter() - t
        self.t_end_timed = time.perf_counter()
        self.timed = False

    # -- checks ----------------------------------------------------------

    def final_checks(self) -> None:
        spec = self.spec
        hw = self.table.high_watermark()
        self.check(hw == spec.n_events - 1, f"high watermark {hw} != {spec.n_events - 1}")
        want = self.oracle.live(hw)["seq"]
        sample = self.rng.sample(sorted(want.index), min(TEXT_SAMPLE, len(want)))
        got = (
            self.engine.read_table()
            .select("url", "seq", F.when(F.col("url").isin(sample), F.col("text")).alias("text"))
            .toPandas()
        )
        self.check(
            len(got) == len(want) and dict(zip(got["url"], got["seq"])) == want.to_dict(),
            "final state (url -> winning seq) differs from the serial LWW oracle",
        )
        seqs = sorted(int(want[u]) for u in sample)
        html = pq.read_table(self.wal_path, columns=["seq", "html"], filters=[("seq", "in", seqs)])
        by_seq = dict(zip(html["seq"].to_pylist(), html["html"].to_pylist()))
        texts = got[got["url"].isin(sample)]
        self.check(
            len(texts) == len(sample)
            and all(t == extract_text(by_seq[q]) for q, t in zip(texts["seq"], texts["text"])),
            "text differs from functions.extract.extract_text on the sampled urls",
        )
        # workload shape: the mechanism each workload exists for ran
        ledger = self.table.read_ledger()
        self.check(
            all(e["lww_method"] == spec.lww_method for e in ledger if "epoch_id" in e),
            f"an epoch committed without lww_method={spec.lww_method}",
        )
        self.check(
            any(e.get("compaction") for e in ledger[self.ledger_start:]),
            "no compaction in the timed epochs",
        )
        if self.trace:
            self.check_spans()
            self.jobs_per_epoch, self.tasks_per_epoch, failed_tasks = self.job_counts()
            self.check(failed_tasks == 0, f"{failed_tasks} Spark tasks failed")

    def check_spans(self) -> None:
        """Layer self times along each epoch sum to its run_epoch wall."""
        tr = self.tracer
        selfs = tr.self_times()
        self.max_span_err = 0.0
        for rec in tr.spans:
            if rec["name"] == "engine.run_epoch":
                total = sum(selfs[s["id"]] for s in tr.subtree(rec["id"]))
                self.max_span_err = max(self.max_span_err, abs(total - (rec["end"] - rec["start"])))
        self.check(self.max_span_err < 1e-6, f"span self times off by {self.max_span_err}s")

    # -- metrics ---------------------------------------------------------

    def end_to_end(self) -> dict:
        epoch_walls = self.walls["epoch"]
        snap = self.table.current_snapshot()
        live_rows = len(self.oracle.live(self.table.high_watermark()))
        return {
            "setup_s": (self.setup_s, "s"),
            "apply_events_per_s": (self.events_applied / sum(epoch_walls), "events/s"),
            "epoch_latency_p50_s": (statistics.median(epoch_walls), "s"),
            "full_scan_s": (statistics.median(self.walls["full_scan"]), "s"),
            "point_lookup_p50_s": (statistics.median(self.walls["point_lookup"]), "s"),
            "change_feed_s": (statistics.median(self.walls["change_feed"]), "s"),
            "table_bytes_per_live_row": (sum(f.bytes for f in snap.files) / max(live_rows, 1), "B/row"),
        }

    def per_layer(self) -> dict:
        tr = self.tracer
        selfs = tr.self_times()
        timed_epochs = {f"epoch-{e}" for e, _, _ in self.epochs}
        per_epoch: dict[str, list[float]] = {}
        compact_s = compact_bytes = stage_bytes = 0.0
        files_written = []
        for rec in tr.spans:
            if rec["run"] not in timed_epochs or rec["name"] != "engine.run_epoch":
                continue
            sub = tr.subtree(rec["id"])
            dur = {n: sum(s["end"] - s["start"] for s in sub if s["name"] == n)
                   for n in ("table.stage", "table.commit", "table.compact")}
            per_epoch.setdefault("engine.self_s", []).append(selfs[rec["id"]])
            per_epoch.setdefault("table.stage_s", []).append(dur["table.stage"])
            per_epoch.setdefault("table.commit_s", []).append(dur["table.commit"])
            per_epoch.setdefault("table.manifest_reads_per_epoch", []).append(
                sum(1 for s in sub if s["name"] == "table.current_snapshot")
            )
            compact_s += dur["table.compact"]
            for s in sub:
                if s["name"] == "table.stage":
                    files_written.append(s["files"])
                    stage_bytes += s["bytes"]
                elif s["name"] == "table.stage_base":
                    compact_bytes += s["bytes"]
        jobs, tasks = self.jobs_per_epoch, self.tasks_per_epoch
        epoch_walls = self.walls["epoch"]
        med = statistics.median
        L = self.layer
        return {
            "session.start_s": (self.session_start_s, "s"),
            "walgen.gen_s": (self.walgen_s, "s"),
            "warmup_s": (self.warmup_s, "s"),
            "engine.self_s": (med(per_epoch["engine.self_s"]), "s"),
            "engine.jobs_per_epoch": (med(jobs), "count"),
            "engine.tasks_per_epoch": (med(tasks), "count"),
            "engine.epochs_timed": (len(epoch_walls), "count"),
            "traced.epoch_latency_p50_s": (med(epoch_walls), "s"),
            "lww.winner_seqs_s": (med(L["lww.winner_seqs_s"]), "s"),
            "extract.udf_s": (med(L["extract.udf_s"]), "s"),
            "extract.rows": (med(L["extract.rows"]), "count"),
            "extract.html_mb_per_s": (sum(L["extract.html_bytes"]) / 1e6 / sum(L["extract.udf_s"]), "MB/s"),
            "table.stage_s": (med(per_epoch["table.stage_s"]), "s"),
            "table.files_written": (med(files_written), "count"),
            "table.bytes_written_per_event": (stage_bytes / self.events_applied, "B/event"),
            "table.commit_s": (med(per_epoch["table.commit_s"]), "s"),
            "table.manifest_reads_per_epoch": (med(per_epoch["table.manifest_reads_per_epoch"]), "count"),
            "table.compact_s": (compact_s, "s"),
            "table.compact_bytes_rewritten": (compact_bytes, "B"),
            "table.delta_depth_max": (max(L["table.delta_depth"]), "count"),
            "table.live_files": (len(self.table.current_snapshot().files), "count"),
            "table.read_s": (med(self.walls["full_scan"]), "s"),
            "table.read_key_s": (med(self.walls["point_lookup"]), "s"),
            "table.read_key_files_frac": (statistics.fmean(L["table.read_key_files_frac"]), "frac"),
            "table.since_s": (med(self.walls["since"]), "s"),
            "table.since_files_frac": (statistics.fmean(L["table.since_files_frac"]), "frac"),
            "changes.feed_s": (med(self.walls["change_feed"]), "s"),
            "changes.rows": (med(L["changes.rows"]), "count"),
            "changes.files_scanned": (med(L["changes.files_scanned"]), "count"),
        }

    def job_counts(self) -> tuple[list[int], list[int], int]:
        """Jobs and tasks per timed epoch, and failed tasks over every
        traced operation, from the job groups and Spark's status tracker."""
        st = self.spark.sparkContext.statusTracker()
        timed_epochs = {f"epoch-{e}" for e, _, _ in self.epochs}
        jobs, tasks, failed = [], [], 0
        for gid in dict.fromkeys(self.groups):
            n_jobs = n_tasks = 0
            for jid in st.getJobIdsForGroup(gid):
                n_jobs += 1
                info = st.getJobInfo(jid)
                for sid in info.stageIds if info else []:
                    s = st.getStageInfo(sid)
                    if s is not None:
                        n_tasks += s.numCompletedTasks + s.numFailedTasks
                        failed += s.numFailedTasks
            if gid in timed_epochs:
                jobs.append(n_jobs)
                tasks.append(n_tasks)
        return jobs, tasks, failed


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SPECS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    b = Bench(args)
    try:
        b.setup()
        b.run()
        b.final_checks()
        metrics = b.per_layer() if b.trace else b.end_to_end()
        if b.trace:
            out_dir = os.path.join(os.getcwd(), ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            b.tracer.write(os.path.join(out_dir, f"spans-{args.workload}-seed{args.seed}.jsonl"))
    finally:
        if b.spark is not None:
            b.spark.stop()
    final_s = time.perf_counter() - b.t_end_timed
    print("perfbench: timed walls " + json.dumps({k: [round(x, 3) for x in v] for k, v in b.walls.items()}),
          file=sys.stderr)
    print(
        f"perfbench: {args.workload} seed={args.seed} setup={b.setup_s:.2f}s "
        f"(session {b.session_start_s:.2f}, walgen {b.walgen_s:.2f}, warmup {b.warmup_s:.2f}; "
        f"oracle load {b.oracle_s:.2f}) timed={b.timed_s:.2f}s checks+stop={final_s:.2f}s",
        file=sys.stderr,
    )
    result = {
        "correct": b.failed == 0,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    with open(args.out, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
