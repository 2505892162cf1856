"""The benchmark's workloads: seeded inputs, one timed op, and its check.

Each workload drives the engine only through its public entry points:

- ``validate_full``        engine.runner.run_validation (fresh out dir, resume=False)
- ``validate_incremental`` engine.incremental.incremental_validation
- ``ingest_records``       engine.ingest.validate_records

``validate_incremental`` is not in BENCHMARK.json: its set-up (two engine
runs per repetition) does not fit the pass budget beside the other two.
It is kept to be run by hand.

A workload object is built once per run. ``setup(k)`` is one complete
set-up repetition (inputs + rules + baseline work) and returns its phase
times; ``warmup()`` runs the excluded warm-up op(s) and computes the
reference the checks compare against; ``prepare(i)`` / ``run(ctx)`` /
``check(ctx, result)`` make one measured op, of which only ``run`` is timed.
"""

from __future__ import annotations

import shutil
import time
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# sf0.001 = the engine's test fixture size (about 6k files, 64 pids).
SF = 0.001
PAYLOAD_RECORDS = 1_000
WARMUP_CALLS = 4
CHANGED_PIDS = 2
# The nine rule families the dirty snapshot's injections make fail.
INJECTED_FAMILIES = {
    "CARD_001", "DRIFT_LANG_001", "DRIFT_LEN_001", "DUP_002", "DUP_003",
    "FMT_COMMIT_001", "LEN_001A", "LEN_001C", "LOOKUP_001",
}


def dir_bytes(path: Path, since: float | None = None) -> int:
    """Bytes of the regular files under ``path`` (modified at/after
    ``since`` when given)."""
    total = 0
    for p in path.rglob("*"):
        if p.is_file():
            st = p.stat()
            if since is None or st.st_mtime >= since:
                total += st.st_size
    return total


def parquet_rows(path: Path, since: float | None = None) -> int:
    """Rows in the parquet files under ``path`` (modified at/after ``since``)."""
    if not path.exists():
        return 0
    return sum(
        pq.ParquetFile(p).metadata.num_rows
        for p in path.rglob("*.parquet")
        if since is None or p.stat().st_mtime >= since
    )


def read_hive(path: str | Path) -> pd.DataFrame:
    df = pd.read_parquet(path)
    if "pid" in df.columns:
        df["pid"] = df["pid"].astype(int)
    return df


def violation_count_map(out: Path) -> dict[tuple[int, str], int]:
    frames = [read_hive(out / "violations")] if (out / "violations").exists() else []
    if (out / "violations_global").exists():
        frames.append(read_hive(out / "violations_global"))
    if not frames:
        return {}
    v = pd.concat(frames, ignore_index=True)
    return {(int(p), str(r)): int(n) for (p, r), n in v.groupby(["pid", "rule_id"]).size().items()}


def verdict_state(out: Path) -> tuple[dict, dict]:
    """(pid -> decision, (pid, rule_id) -> violation_count) of a run dir."""
    dec = pd.read_parquet(out / "decisions.parquet")
    ver = read_hive(out / "verdicts")
    return (
        {int(p): str(d) for p, d in zip(dec["pid"], dec["decision"])},
        {(int(p), str(r)): int(c) for p, r, c in zip(ver["pid"], ver["rule_id"], ver["violation_count"])},
    )


class _Validation:
    """Shared set-up of the two validate workloads: the seeded snapshot and
    its baseline profile run."""

    def __init__(self, spark, work: Path, seed: int, wrong_expected: bool):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.wrong_expected = wrong_expected
        self.paths: dict | None = None
        self.profile_dir: Path | None = None
        self.baseline_out: Path | None = None

    def _gen(self, k: int) -> dict:
        from bio_data_validation_spark import datagen

        datagen.SEED = self.seed
        return datagen.generate_snapshot(SF, self.work / f"gen{k}", force=True)

    def _baseline(self, k: int, paths: dict) -> Path:
        from bio_data_validation_spark.engine.runner import run_validation

        out = self.work / f"base{k}"
        t = time.perf_counter()
        run_validation(
            self.spark, paths["clean"], str(out), manifest_path=paths["manifest"],
            build_baseline=True, profile_dir=str(self.work / f"profile{k}"),
            snapshot_id="clean", resume=False,
        )
        if k == 1:  # the first engine call of the process
            self.cold_s = time.perf_counter() - t
        return out

    def setup(self, k: int) -> dict[str, float]:
        from bio_data_validation_spark.rules import load_registry

        t0 = time.perf_counter()
        paths = self._gen(k)
        extra = self._derive(k, paths)
        t1 = time.perf_counter()
        load_registry()
        t2 = time.perf_counter()
        out = self._baseline(k, paths)
        t3 = time.perf_counter()
        if self.paths is None:
            self.paths, self.baseline_out = {**paths, **extra}, out
            self.profile_dir = self.work / f"profile{k}"
        return {"gen": t1 - t0, "rules": t2 - t1, "baseline": t3 - t2}

    def _derive(self, k: int, paths: dict) -> dict:
        return {}

    def _validate(self, source: str, out: Path, snapshot_id: str) -> dict:
        from bio_data_validation_spark.engine.runner import run_validation

        return run_validation(
            self.spark, source, str(out), manifest_path=self.paths["manifest"],
            profile_dir=str(self.profile_dir), snapshot_id=snapshot_id, resume=False,
        )


class ValidateFull(_Validation):
    """Fresh run_validation of the dirty snapshot into a fresh out dir."""

    def warmup(self) -> None:
        from tests.oracle import violation_counts

        dirty = read_hive(self.paths["dirty"])
        manifest = pd.read_parquet(self.paths["manifest"])
        exp = violation_counts(dirty, manifest)
        self.expected_counts = {
            (int(p), str(r)): int(n)
            for p, r, n in zip(exp["pid"], exp["rule_id"], exp["violation_count"])
        }
        self.expected_failed = set(INJECTED_FAMILIES)
        if self.wrong_expected:
            key = next(iter(sorted(self.expected_counts)))
            self.expected_counts[key] += 1
        self.source_bytes = dir_bytes(Path(self.paths["dirty"]))
        self._validate(self.paths["dirty"], self.work / "warmup", "dirty")
        shutil.rmtree(self.work / "warmup", ignore_errors=True)

    def prepare(self, i: int) -> dict:
        out = self.work / f"full{i}"
        shutil.rmtree(out, ignore_errors=True)
        return {"out": out}

    def run(self, ctx: dict) -> dict:
        return self._validate(self.paths["dirty"], ctx["out"], "dirty")

    def check(self, ctx: dict, report: dict) -> dict:
        out = ctx["out"]
        ok = (
            set(report["failed_rules"]) == self.expected_failed
            and violation_count_map(out) == self.expected_counts
        )
        facts = {
            "ok": ok,
            "items": int(report["records_processed"]),
            "report": report,
            "source_bytes": self.source_bytes,
            "written_bytes": dir_bytes(out),
            "scanned_bytes": self.source_bytes,
            "profile_bytes": dir_bytes(out / "row_profile"),
            "violation_rows": parquet_rows(out / "violations") + parquet_rows(out / "violations_global"),
            "ledger_files": len(list((out / "ledger").glob("ledger-*.parquet"))),
        }
        shutil.rmtree(out, ignore_errors=True)
        return facts


class ValidateIncremental(_Validation):
    """incremental_validation from the completed clean-snapshot run to a
    snapshot in which CHANGED_PIDS partitions were rewritten."""

    def _derive(self, k: int, paths: dict) -> dict:
        clean = read_hive(paths["clean"])
        dirty = read_hive(paths["dirty"])
        # The rewritten pids are the ones whose size is closest to the
        # median pid size (seeded tie-break): the op's work then does not
        # swing with whether a seed happened to pick the Zipf mega-repo.
        sizes = clean.groupby("pid").size()
        rng = np.random.default_rng(self.seed)
        dist = (sizes - sizes.median()).abs() + rng.random(len(sizes)) * 1e-3
        pids = sorted(int(p) for p in dist.nsmallest(CHANGED_PIDS).index)
        # The rewritten pids take the dirty snapshot's rows, each content
        # revised, so the partition fingerprints are certain to change.
        new_rows = dirty[dirty["pid"].isin(pids)].copy()
        new_rows["content"] = new_rows["content"].map(lambda c: c if c is None else c + "\n// rev 2")
        new = pd.concat([clean[~clean["pid"].isin(pids)], new_rows], ignore_index=True)
        new_dir = self.work / f"gen{k}" / "new"
        pq.write_to_dataset(
            pa.Table.from_pandas(new, preserve_index=False), root_path=str(new_dir),
            partition_cols=["pid"], basename_template="part-{i}.parquet",
        )
        self.n_pids = int(new["pid"].nunique())
        return {"new": str(new_dir), "changed_pids": pids}

    def _baseline(self, k: int, paths: dict) -> Path:
        # The completed run the op starts from is a drift-evaluated run of
        # the clean snapshot, so its carried verdicts have the same rule set
        # as a from-scratch run; the profile build comes first.
        super()._baseline(k, paths)
        from bio_data_validation_spark.engine.runner import run_validation

        out = self.work / f"prior{k}"
        run_validation(
            self.spark, paths["clean"], str(out), manifest_path=paths["manifest"],
            profile_dir=str(self.work / f"profile{k}"), snapshot_id="clean", resume=False,
        )
        return out

    def warmup(self) -> None:
        ref = self.work / "reference"
        self._validate(self.paths["new"], ref, "new")
        self.expected = verdict_state(ref)
        if self.wrong_expected:
            decisions, counts = self.expected
            key = next(iter(sorted(counts)))
            counts[key] += 1
        shutil.rmtree(ref, ignore_errors=True)
        self.source_bytes = dir_bytes(Path(self.paths["new"]))
        self.new_rows = parquet_rows(Path(self.paths["new"]))
        self.changed_bytes = sum(
            dir_bytes(Path(self.paths["new"]) / f"pid={p}") for p in self.paths["changed_pids"]
        )

    def prepare(self, i: int) -> dict:
        out = self.work / f"inc{i}"
        shutil.rmtree(out, ignore_errors=True)
        shutil.copytree(self.baseline_out, out)
        return {"out": out, "t_wall": time.time()}

    def run(self, ctx: dict) -> dict:
        from bio_data_validation_spark.engine.incremental import incremental_validation

        return incremental_validation(
            self.spark, self.paths["clean"], self.paths["new"], str(ctx["out"]),
            "clean", "new", manifest_path=self.paths["manifest"],
            profile_dir=str(self.profile_dir),
        )

    def check(self, ctx: dict, report: dict) -> dict:
        out = ctx["out"]
        ok = (
            verdict_state(out) == self.expected
            and report["carried_forward_pids"] == self.n_pids - len(self.paths["changed_pids"])
        )
        since = ctx["t_wall"]
        facts = {
            "ok": ok,
            "items": self.new_rows,
            "report": report,
            "source_bytes": self.source_bytes,
            "written_bytes": dir_bytes(out, since=since),
            "scanned_bytes": self.changed_bytes,
            "profile_bytes": dir_bytes(out / "row_profile", since=since),
            "violation_rows": parquet_rows(out / "violations", since) + parquet_rows(out / "violations_global", since),
            "ledger_files": len(list((out / "ledger").glob("ledger-*.parquet"))),
            "carried_frac": report["carried_forward_pids"] / self.n_pids,
            "rows_rescanned": int(report.get("records_processed", 0)),
        }
        shutil.rmtree(out, ignore_errors=True)
        return facts


class IngestRecords:
    """Closed loop, one client: validate_records on 1,000-record payloads
    dealt from the dirty snapshot, a different payload per request (they
    cycle after len(payloads), 6 at sf0.001)."""

    def __init__(self, spark, work: Path, seed: int, wrong_expected: bool):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.wrong_expected = wrong_expected
        self.payloads: list[pd.DataFrame] | None = None

    def setup(self, k: int) -> dict[str, float]:
        from bio_data_validation_spark import datagen
        from bio_data_validation_spark.rules import load_registry

        t0 = time.perf_counter()
        datagen.SEED = self.seed
        paths = datagen.generate_snapshot(SF, self.work / f"gen{k}", force=True)
        dirty = read_hive(paths["dirty"]).drop(columns=["pid"])
        payloads = self._deal(dirty)
        t1 = time.perf_counter()
        registry = load_registry()
        t2 = time.perf_counter()
        if self.payloads is None:
            self.payloads, self.registry = payloads, registry
        return {"gen": t1 - t0, "rules": t2 - t1, "baseline": 0.0}

    def _deal(self, dirty: pd.DataFrame) -> list[pd.DataFrame]:
        """Disjoint PAYLOAD_RECORDS-row payloads with the same mix of
        content sizes: seeded shuffle, stable sort by log2 content length,
        then deal the rows round-robin into piles. Request cost follows
        payload bytes, so this keeps it from swinging with which seed drew
        the large rows."""
        rows = dirty.sample(frac=1.0, random_state=self.seed)
        size_class = np.floor(np.log2(rows["content"].str.len().fillna(0) + 1))
        rows = rows.iloc[np.argsort(size_class.to_numpy(), kind="stable")]
        n = len(rows) // PAYLOAD_RECORDS
        return [
            rows.iloc[j::n].sample(frac=1.0, random_state=self.seed + j).iloc[:PAYLOAD_RECORDS]
            for j in range(n)
        ]

    def _payload(self, i: int) -> pd.DataFrame:
        return self.payloads[i % len(self.payloads)]

    def _expected(self, payload: pd.DataFrame) -> set[str]:
        from tests.oracle import row_rule_masks

        # No manifest is passed to validate_records, so LOOKUP_001 is out.
        empty = pd.DataFrame({"repo": pd.Series(dtype=object), "path": pd.Series(dtype=object)})
        masks = row_rule_masks(payload.reset_index(drop=True), empty)
        return {r for r, m in masks.items() if r != "LOOKUP_001" and bool(m.any())}

    def warmup(self) -> None:
        # The first call pays the JVM's code-path warm-up (cold_run_s); the
        # next two still ran 10-40% slower than steady state when measured.
        t = time.perf_counter()
        self.run(self.prepare(-WARMUP_CALLS))
        self.cold_s = time.perf_counter() - t
        for i in range(1 - WARMUP_CALLS, 0):
            self.run(self.prepare(i))

    def prepare(self, i: int) -> dict:
        payload = self._payload(i + 1)
        expected = self._expected(payload)
        if self.wrong_expected:
            expected = expected ^ {"LANG_ENUM_001"}
        records = [
            {k: (None if isinstance(v, float) and np.isnan(v) else v) for k, v in r.items()}
            for r in payload.to_dict("records")
        ]
        text_bytes = sum(len(c) for c in payload["content"] if isinstance(c, str))
        return {"records": records, "expected": expected, "source_bytes": text_bytes}

    def run(self, ctx: dict) -> dict:
        from bio_data_validation_spark.engine.ingest import validate_records

        return validate_records(self.spark, ctx["records"], registry=self.registry)

    def check(self, ctx: dict, report: dict) -> dict:
        return {
            "ok": set(report["failed_rules"]) == ctx["expected"],
            "items": int(report["records_processed"]),
            "report": report,
            "source_bytes": ctx["source_bytes"],
        }


WORKLOADS = {
    "validate_full": ValidateFull,
    "validate_incremental": ValidateIncremental,
    "ingest_records": IngestRecords,
}
