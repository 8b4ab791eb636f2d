"""The ``weekly_cycle`` workload: the paper's weekly pipeline cycle plus
the notebook queries analysts run over what it publishes.

Set-up lands a seeded history of Cricsheet-shaped matches and builds it
in one cold cycle, then runs one untimed weekly cycle (the first cycle
after a cold build is slower than the steady state). Each timed cycle
then lands a zip of 10 new matches (the reference's per-cycle file cap),
runs ``extract_zip`` + ``run_incremental`` + ``version_notes``, and runs
the nine ``plans.cricket_analytics`` functions once over the freshly
published matchwise CSV. ``cycle_s`` and ``cpu_s`` cover the pipeline
part of a cycle; the queries are timed one by one. A last cycle with no
new files follows the timed ones.

Checks (outside the timed regions): the published CSVs against counts
computed in pure Python from the generated JSON (matches, deliveries,
sum of ``runs.total``); the published rows are in global sort order and
their digest is recorded; every notebook query against a DuckDB twin
over the same CSV; the no-new-files cycle leaves the state files and
the published rows unchanged.
"""

from __future__ import annotations

import csv
import glob
import hashlib
import json
import os
import random
import statistics
import sys
import time
import zipfile

from . import procstat
from .harness import Context, quantile, result_mismatch

HISTORY_MATCHES = 60
NEW_PER_CYCLE = 10  # the reference's THRESHOLD
TEAM = "India"
DELIVERY_SORT_KEY = ("match_number", "innings_number", "over_number", "ball_number")

# DuckDB twins of plans.cricket_analytics, column for column
_TWINS = {
    "null_profile": None,  # built from the header at check time
    "matches_per_year": """SELECT CAST(year(CAST(date AS DATE)) AS INT) AS year,
        count(*) AS n_matches FROM m GROUP BY 1""",
    "matches_per_year_for_team": f"""SELECT CAST(year(CAST(date AS DATE)) AS INT)
        AS year, count(*) AS n_matches FROM m
        WHERE team_1 = '{TEAM}' OR team_2 = '{TEAM}' GROUP BY 1""",
    "all_teams": "SELECT team_1 AS team FROM m UNION SELECT team_2 FROM m",
    "result_share": """SELECT lower(winner) = 'no result' AS is_no_result,
        count(*) AS n, round(100.0 * count(*) / (SELECT count(*) FROM m), 6) AS pct
        FROM m GROUP BY 1""",
    "toss_decision_distribution": "SELECT toss_decision, count(*) AS n FROM m GROUP BY 1",
    "toss_winner_outcome": """SELECT CASE WHEN toss_winner = winner THEN 'Won Match'
        ELSE 'Lost Match' END AS toss_winner_won, count(*) AS n FROM m
        WHERE lower(winner) <> 'no result' GROUP BY 1""",
    "decision_outcome_breakdown": """SELECT toss_decision, CASE WHEN toss_winner = winner
        THEN 'Won Match' ELSE 'Lost Match' END AS toss_winner_won, count(*) AS n
        FROM m WHERE lower(winner) <> 'no result' GROUP BY 1, 2""",
    "margin_type_split": """SELECT count(margin_runs) AS wins_by_runs,
        count(margin_wickets) AS wins_by_wickets FROM m""",
}

_DUCK_TYPES = {
    "LongType()": "BIGINT",
    "IntegerType()": "INTEGER",
    "StringType()": "VARCHAR",
    "DoubleType()": "DOUBLE",
}


def _load_fixtures(checkout: str):
    sys.path.insert(0, os.path.join(checkout, "tests"))
    from cricket_fixtures import make_match

    return make_match


def _part_files(out_dir: str) -> list[str]:
    return sorted(glob.glob(os.path.join(out_dir, "part-*")))


def _read_rows(out_dir: str) -> tuple[list[str], list[list[str]]]:
    header, rows = [], []
    for path in _part_files(out_dir):
        with open(path, newline="") as fh:
            reader = csv.reader(fh)
            header = next(reader, header)
            rows.extend(reader)
    return header, rows


def _snapshot(*roots: str) -> dict[str, tuple[int, int, int]]:
    """path -> (inode, mtime_ns, size) of every file under the roots."""
    out = {}
    for root in roots:
        for d, _, files in os.walk(root):
            for f in files:
                st = os.stat(os.path.join(d, f))
                out[os.path.join(d, f)] = (st.st_ino, st.st_mtime_ns, st.st_size)
    return out


def _content_digest(root: str) -> str:
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


class WeeklyCycle:
    name = "weekly_cycle"
    # cycles keep getting faster for a while after the warm-up cycle (the
    # JIT is still compiling); a fixed count of timed cycles keeps the
    # median from depending on how many happen to fit in ``--seconds``,
    # and three cycles give 27 query latencies for the p90
    min_steps = 3

    def __init__(self, ctx: Context):
        from kaggle_data_pipeline_with_aws_spark import ingest, pipeline
        from kaggle_data_pipeline_with_aws_spark.plans import cricket_analytics
        from kaggle_data_pipeline_with_aws_spark.schemas import MATCHWISE_SCHEMA
        from kaggle_data_pipeline_with_aws_spark.sources import readers

        self.ctx = ctx
        self.ingest, self.pipeline, self.readers = ingest, pipeline, readers
        self.schema = MATCHWISE_SCHEMA
        ca = cricket_analytics
        self.queries = [
            ca.null_profile,
            ca.matches_per_year,
            lambda m: ca.matches_per_year_for_team(m, TEAM),
            ca.all_teams,
            ca.result_share,
            ca.toss_decision_distribution,
            ca.toss_winner_outcome,
            ca.decision_outcome_breakdown,
            ca.margin_type_split,
        ]
        self.query_names = list(_TWINS)
        self.make_match = _load_fixtures(ctx.checkout)
        self.rng = random.Random(ctx.seed)
        self.next_id = 100000
        self.n_zips = 0
        self.landing = ctx.path("landing")
        self.state = ctx.path("state")
        self.out = ctx.path("published")
        # pure-Python truth over every match landed so far
        self.matches = self.deliveries = self.runs = 0
        self.latest: tuple[str, int] = ("", 0)
        self.digest = ""
        # samples
        self.cycle_s: list[float] = []
        self.query_ms: list[float] = []
        self.cpu_s: list[float] = []
        self.write_amp: list[float] = []
        self.noop_cycle_s = 0.0
        self.setup_phases: dict[str, float] = {}

    # -- inputs ------------------------------------------------------------

    def _land(self, n: int) -> tuple[str, int]:
        """Write a zip of ``n`` new seeded matches; returns (path, JSON bytes)."""
        path = self.ctx.path(f"incoming-{self.n_zips}.zip")
        self.n_zips += 1
        json_bytes = 0
        with zipfile.ZipFile(path, "w") as zf:
            for _ in range(n):
                mid = self.next_id
                self.next_id += 1
                doc = self.make_match(self.rng, mid)
                text = json.dumps(doc)
                json_bytes += len(text.encode())
                zf.writestr(f"t20s/{mid}.json", text)
                balls = [
                    b for inn in doc["innings"] for o in inn["overs"] for b in o["deliveries"]
                ]
                self.matches += 1
                self.deliveries += len(balls)
                self.runs += sum(b["runs"]["total"] for b in balls)
                self.latest = max(self.latest, (doc["info"]["dates"][0], mid))
        return path, json_bytes

    # -- the cycle -----------------------------------------------------------

    def _run_cycle(self, zip_path: str | None, max_files: int):
        if zip_path is not None:
            self.ingest.extract_zip(zip_path, self.landing)
        res = self.pipeline.run_incremental(
            self.ctx.spark, self.landing, self.state, self.out, max_files_per_cycle=max_files
        )
        notes = self.pipeline.version_notes(res.matchwise)
        return res, notes

    def _run_queries(self, timed: bool) -> list[list[tuple]]:
        tracer = self.ctx.tracer
        results = []
        for name, fn in zip(self.query_names, self.queries):
            t0 = time.perf_counter()
            with tracer.span(
                f"plans.cricket_analytics.{name}", "plans.cricket_analytics"
            ) as span:
                try:
                    matches = self.readers.read_csv(
                        self.ctx.spark, os.path.join(self.out, "matchwise_data"), self.schema
                    )
                    df = fn(matches)
                    rows = [tuple(r) for r in df.collect()]
                except Exception as e:  # noqa: BLE001 -- count it, keep the suite going
                    self.ctx.record(False, f"query {name}: {type(e).__name__}: {e}")
                    results.append(None)
                    continue
                if span is not None:
                    phases = df._jdf.queryExecution().tracker().phases()
                    for p in ("analysis", "optimization", "planning"):
                        span.attrs[f"{p}_ms"] = phases.apply(p).durationMs()
            if timed:
                self.query_ms.append((time.perf_counter() - t0) * 1e3)
            results.append((df.dtypes, rows))
        return results

    def setup(self) -> None:
        t0 = time.perf_counter()
        zip_path, _ = self._land(HISTORY_MATCHES)
        res, notes = self._run_cycle(zip_path, HISTORY_MATCHES)
        self.setup_phases["history_build_s"] = time.perf_counter() - t0
        self._check_cycle(res, notes, HISTORY_MATCHES, "history build")
        t0 = time.perf_counter()
        self.step(timed=False)
        self.setup_phases["warmup_cycle_s"] = time.perf_counter() - t0

    def step(self, timed: bool = True) -> None:
        ctx = self.ctx
        zip_path, json_bytes = self._land(NEW_PER_CYCLE)
        before = _snapshot(self.state, self.out)
        with ctx.tracer.span("cycle" if timed else "warmup", "harness"):
            cpu0 = procstat.tree_cpu_s()
            t0 = time.perf_counter()
            try:
                res, notes = self._run_cycle(zip_path, NEW_PER_CYCLE)
                ok = ctx.record(True, "cycle")
            except Exception as e:  # noqa: BLE001 -- count it, keep the loop going
                ok, res, notes = False, None, None
                ctx.record(False, f"cycle: {type(e).__name__}: {e}")
            elapsed = time.perf_counter() - t0
            cpu = procstat.tree_cpu_s() - cpu0
            results = self._run_queries(timed) if ok else []
        if not ok:
            return
        # bytes of every file created or rewritten by the cycle
        written = sum(
            v[2]
            for k, v in _snapshot(self.state, self.out).items()
            if before.get(k, (0, 0))[:2] != v[:2]
        )
        if timed:
            self.cycle_s.append(elapsed)
            self.cpu_s.append(cpu)
            self.write_amp.append(written / json_bytes)
        self._check_cycle(res, notes, NEW_PER_CYCLE, "weekly cycle")
        self._check_queries(results)

    def finish(self) -> None:
        """The no-new-files cycle: it must change no state file and no
        published row."""
        ctx = self.ctx
        state_before, digest_before = _content_digest(self.state), self.digest
        with ctx.tracer.span("noop_cycle", "harness"):
            t0 = time.perf_counter()
            res, notes = self._run_cycle(None, NEW_PER_CYCLE)
            self.noop_cycle_s = time.perf_counter() - t0
        self._check_cycle(res, notes, 0, "no-new-files cycle")
        ctx.record(_content_digest(self.state) == state_before, "no-new-files cycle changed state")
        ctx.record(self.digest == digest_before, "no-new-files cycle changed published rows")

    # -- checks --------------------------------------------------------------

    def _check_cycle(self, res, notes, n_new: int, what: str) -> None:
        ctx = self.ctx
        ctx.record(res.n_new_files == n_new, f"{what}: {res.n_new_files} new files, want {n_new}")
        ctx.record(res.n_corrupt == 0, f"{what}: {res.n_corrupt} corrupt files")
        header, m_rows = _read_rows(os.path.join(self.out, "matchwise_data"))
        d_header, d_rows = _read_rows(os.path.join(self.out, "deliverywise_data"))
        ctx.record(len(m_rows) == self.matches, f"{what}: {len(m_rows)} matches published, want {self.matches}")
        ctx.record(
            len(d_rows) == self.deliveries,
            f"{what}: {len(d_rows)} deliveries published, want {self.deliveries}",
        )
        total = d_header.index("total_runs")
        runs = sum(int(r[total]) for r in d_rows)
        ctx.record(runs == self.runs, f"{what}: runs.total sums to {runs}, want {self.runs}")
        # published order is part of the artifact: files in name order,
        # rows in file order, must already be in global sort order
        m_col = header.index("match_number")
        m_keys = [int(r[m_col]) for r in m_rows]
        d_cols = [d_header.index(c) for c in DELIVERY_SORT_KEY]
        d_keys = [tuple(int(r[i]) for i in d_cols) for r in d_rows]
        ctx.record(
            m_keys == sorted(m_keys) and d_keys == sorted(d_keys),
            f"{what}: published rows not in global sort order",
        )
        h = hashlib.sha256()
        for row in [header, *m_rows, d_header, *d_rows]:
            h.update("\x1f".join(row).encode() + b"\n")
        self.digest = h.hexdigest()
        date = self.latest[0]
        want = f"{date[8:10]}/{date[5:7]}/{date[:4]}"
        ctx.record(want in notes.get("notes", ""), f"{what}: version notes {notes} miss {want}")

    def _check_queries(self, results) -> None:
        import duckdb

        ctx = self.ctx
        con = duckdb.connect()
        try:
            cols = ", ".join(
                f"'{f.name}': '{_DUCK_TYPES[repr(f.dataType)]}'" for f in self.schema.fields
            )
            pattern = os.path.join(self.out, "matchwise_data", "part-*")
            con.execute(
                f"CREATE VIEW m AS SELECT * FROM read_csv('{pattern}', header = true, "
                f"columns = {{{cols}}})"
            )
            for name, result in zip(self.query_names, results):
                if result is None:  # already counted as failed
                    continue
                s_dtypes, s_rows = result
                sql = _TWINS[name] or "SELECT " + ", ".join(
                    f"count(*) - count({c}) AS {c}" for c, _ in s_dtypes
                ) + " FROM m"
                why = result_mismatch(s_dtypes, s_rows, con, sql)
                ctx.record(not why, f"query {name} against its DuckDB twin: {why}")
        finally:
            con.close()

    # -- results -------------------------------------------------------------

    def end_to_end(self) -> dict[str, float]:
        return {
            "cycle_s": statistics.median(self.cycle_s),
            "query_p50_ms": quantile(self.query_ms, 0.5),
            "query_p90_ms": quantile(self.query_ms, 0.9),
            "cpu_s": statistics.median(self.cpu_s),
        }

    def extra(self) -> dict[str, float]:
        return {
            "pipeline.noop_cycle_s": self.noop_cycle_s,
            "pipeline.write_amp": statistics.median(self.write_amp),
        }

    def details(self) -> dict:
        return {
            "history_matches": HISTORY_MATCHES,
            "setup_phases": self.setup_phases,
            "new_per_cycle": NEW_PER_CYCLE,
            "cycles": len(self.cycle_s),
            "cycle_s": self.cycle_s,
            "query_ms": self.query_ms,
            "cpu_s": self.cpu_s,
            "write_amp": self.write_amp,
            "noop_cycle_s": self.noop_cycle_s,
            "published_digest": self.digest,
        }
