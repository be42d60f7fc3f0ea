"""The three workloads: inputs, prior state, one op, and its verification.

Each op is what a user of the engine waits for; ``run.py`` times it and
checks its output with ``verify`` outside the timed region.
"""

from __future__ import annotations

import os
import shutil
from contextlib import nullcontext

import numpy as np
import pandas as pd

from audit_anomaly_detection_etl_spark import queries as Q
from audit_anomaly_detection_etl_spark.plans import checkpoint as ckpt
from audit_anomaly_detection_etl_spark.plans import runner
from audit_anomaly_detection_etl_spark.plans.spec import SuiteSpec
from audit_anomaly_detection_etl_spark.sources import synth

from . import inputs, oracles

SINK_CAP = SuiteSpec().max_violation_rows_per_check


class Workload:
    """``span(name)`` is a no-op context unless the traced run installs one."""

    span = staticmethod(nullcontext)
    # untimed ops after op 0: op 1 still carries a large, erratic warm-up
    # step (see METHOD.md)
    warmup_ops = 1

    def prior_state(self, spark) -> None:
        pass

    def before_op(self, i: int) -> None:
        pass

    def payloads(self) -> pd.DataFrame:
        """The payloads ``codecs.decode_s_per_mib`` is timed on."""
        return self.tables.clips.select(["bytes", "codec"]).to_pandas()


class SuiteAudio(Workload):
    """``run_suite`` with the default checks plus the six audio opt-ins, on
    a fresh checkpoint each op."""

    name = "suite_audio"
    n_clips, n_parts, plants = 600, 4, 4
    clips_per_op = n_clips

    def __init__(self, work: str, seed: int) -> None:
        self.work, self.seed = work, seed
        self.spec = SuiteSpec(checks=SuiteSpec().checks + oracles.OPTIN_CHECKS)
        self._expected = None

    def make_inputs(self, d: str, tracer) -> None:
        with tracer.span("synth.generate"):
            self.tables, self.planted = inputs.audio_tables(
                self.n_clips, self.n_parts, self.seed, self.plants
            )
        with tracer.span("synth.write"):
            synth.write_clip_tables(self.tables, d)
        self.data = d

    def before_op(self, i: int) -> None:
        self.ck = os.path.join(self.work, f"ck-{i}")

    def op(self, spark, i: int):
        return runner.run_suite(
            spark,
            clips_root=os.path.join(self.data, "clips"),
            ref_root=os.path.join(self.data, "clips_ref"),
            hist_ref_path=os.path.join(self.data, "hist_ref.parquet"),
            checkpoint_dir=self.ck,
            spec=self.spec,
        )

    def expected(self):
        if self._expected is None:
            exp = inputs.expected_default(self.tables, self.planted)
            optin, near = oracles.audio_optin_oracle(self.tables.clips.to_pandas(), self.spec)
            sidecar = self.tables.violations_expected
            tones = {
                k for k, c in zip(sidecar.column("clip_id").to_pylist(),
                                  sidecar.column("check").to_pylist())
                if c == "tonal"
            }
            # a plant the oracle misses means the oracle, not the engine, is off
            for fam, keys in {**self.planted, "tonal": tones}.items():
                if not keys <= optin[fam] | near[fam]:
                    raise RuntimeError(f"planted {fam} keys not flagged by the oracle")
            self._expected = ({**exp, **optin}, near)
        return self._expected

    def verify(self, spark, res) -> list[str]:
        exp, near = self.expected()
        errors = oracles.check_suite(
            oracles.sink_rows(res.violations_path), res.verdicts, exp, near, SINK_CAP
        )
        if sorted(res.ran_parts) != list(range(self.n_parts)):
            errors.append(f"ran {res.ran_parts}, expected every partition")
        shutil.rmtree(self.ck, ignore_errors=True)
        return errors


class ResumeIngest(Workload):
    """Set-up validates a many-partition table into a checkpoint. Each op
    re-lands ``relanded`` partitions under new file names (so their
    fingerprints change), then re-runs ``run_suite`` on that checkpoint,
    appends the metrics log and screens it, as ``jobs/validate.py`` does."""

    name = "resume_ingest"
    n_clips, n_parts, relanded, wave_size = 768, 64, 8, 8
    history_runs = 4  # more than the screen's min_history, so it runs
    # in ten runs op 2's CPU fell to op 3's by 5-19%, so timing op 2 left
    # cpu_s_per_op and op_s_p50 following how far each run had warmed up
    warmup_ops = 2
    clips_per_op = n_clips * relanded // n_parts

    def __init__(self, work: str, seed: int) -> None:
        self.work, self.seed = work, seed
        self.spec = SuiteSpec()
        self._expected = None

    def make_inputs(self, d: str, tracer) -> None:
        with tracer.span("synth.generate"):
            self.tables = synth.generate_clips(
                n_clips=self.n_clips, n_parts=self.n_parts, seed=self.seed
            )
        with tracer.span("synth.write"):
            synth.write_clip_tables(self.tables, d)
        self.data = d

    def _run(self, spark, wave_size: int):
        return runner.run_suite(
            spark,
            clips_root=os.path.join(self.data, "clips"),
            ref_root=os.path.join(self.data, "clips_ref"),
            hist_ref_path=os.path.join(self.data, "hist_ref.parquet"),
            checkpoint_dir=self.ck,
            spec=self.spec,
            wave_size=wave_size,
        )

    def prior_state(self, spark) -> None:
        """Validate every partition in one wave and seed the metrics log."""
        self.ck = os.path.join(self.work, "ck")
        res = self._run(spark, self.n_parts)
        if len(res.ran_parts) != self.n_parts:
            raise RuntimeError("prior validation did not cover the table")
        self.store = ckpt.CheckpointStore(self.ck)
        for h in range(self.history_runs):
            ckpt.append_metrics_log(self.store, f"h{h:04d}")

    def before_op(self, i: int) -> None:
        """Re-land the next ``relanded`` partitions (same rows, new files)
        and keep the metrics log at a fixed length."""
        start = (i * self.relanded) % self.n_parts
        self.parts = [(start + j) % self.n_parts for j in range(self.relanded)]
        for p in self.parts:
            pdir = os.path.join(self.data, "clips", f"part={p}")
            for f in sorted(os.listdir(pdir)):
                src = os.path.join(pdir, f)
                shutil.copyfile(src, os.path.join(pdir, f"landed-{i}-{f.split('-')[-1]}"))
                os.remove(src)
        log = os.path.join(self.ck, "metrics_log")
        runs = sorted(n for n in os.listdir(log) if n.endswith(".jsonl"))
        for n in runs[: max(0, len(runs) - self.history_runs)]:
            os.remove(os.path.join(log, n))

    def op(self, spark, i: int):
        res = self._run(spark, self.wave_size)
        ckpt.append_metrics_log(self.store, f"op{i:04d}")
        with self.span("checkpoint.anomaly_report"):
            anomalies = (
                ckpt.run_metric_anomaly_report(spark, self.store).where("anomalous").collect()
            )
        return res, anomalies

    def verify(self, spark, out) -> list[str]:
        res, anomalies = out
        if self._expected is None:
            self._expected = inputs.expected_default(self.tables, {})
        errors = oracles.check_suite(
            oracles.sink_rows(res.violations_path), res.verdicts, self._expected,
            sink_cap=SINK_CAP,
        )
        if sorted(res.ran_parts) != sorted(self.parts):
            errors.append(f"ran {sorted(res.ran_parts)}, re-landed {sorted(self.parts)}")
        if len(res.verdicts) != self.n_parts:
            errors.append(f"{len(res.verdicts)} verdicts for {self.n_parts} partitions")
        if anomalies:
            errors.append(f"{len(anomalies)} metric anomalies on unchanged data")
        return errors


class CatalogTop(Workload):
    """One pass over the five top-CPU catalog queries, each forced by
    ``collect`` so its rows can be checked."""

    name = "catalog_top"
    QUERIES = (
        "q22_minhash_lsh", "q94_edit_verified_pairs", "q97_fk_health_matrix",
        "q49_anomaly_ensemble", "q134_dropout_audit",
    )
    sizes = {
        "lineitem": 60000, "orders": 15000, "part": 2000, "supplier": 100,
        "customer": 1500, "events": 10000, "users": 300, "documents": 1000,
    }
    files_per_table = 4
    clips_per_op = 400  # q134's own fixture

    def __init__(self, work: str, seed: int) -> None:
        self.work, self.seed = work, seed
        self._expected = None

    def make_inputs(self, d: str, tracer) -> None:
        with tracer.span("synth.write"):
            inputs.write_catalog(d, self.seed, self.sizes, self.files_per_table)
        self.data = d

    def op(self, spark, i: int):
        out = {}
        for name in self.QUERIES:
            with self.span(f"query.{name}"):
                out[name] = Q.QUERIES[name](spark, self.data).collect()
        return out

    def expected(self, spark) -> dict[str, str]:
        if self._expected is None:
            self._expected = catalog_oracle(spark, self.data)
        return self._expected

    def verify(self, spark, out) -> list[str]:
        from scripts.check_correctness import value_hash

        exp = self.expected(spark)
        errors = []
        for name, rows in out.items():
            cols = list(rows[0].__fields__) if rows else []
            got = value_hash([tuple(r) for r in rows], cols) if rows else "empty"
            if got != exp[name]:
                errors.append(f"{name}: {len(rows)} rows, hash {got} != oracle {exp[name]}")
        return errors

    def payloads(self) -> pd.DataFrame:
        return _q134_fixture()[["bytes", "codec"]]


def _q134_fixture() -> pd.DataFrame:
    """The clips q134 builds for itself (same generator call and the same
    planted 50 ms gaps as ``queries.q134``)."""
    from audit_anomaly_detection_etl_spark.functions import codecs

    pdf = synth.generate_clips(n_clips=400, n_parts=8, seed=7).clips.to_pandas()
    for i in range(0, len(pdf), 9):
        c, b, sr = pdf.at[i, "codec"], pdf.at[i, "bytes"], int(pdf.at[i, "sr_hz"])
        if c in codecs.CODECS and b and sr > 0 and len(b) % codecs.bytes_per_sample(c) == 0:
            pcm = np.array(codecs.decode(b, c), dtype=np.float64)
            w, s = int(sr * 0.05), len(pcm) // 4
            if s > 0 and s + w < len(pcm) - 1:
                pcm[s : s + w] = 0.0
                pdf.at[i, "bytes"] = codecs.encode(pcm, c)
    return pdf


def catalog_oracle(spark, data: str) -> dict[str, str]:
    """Order-insensitive value hash per query: the DuckDB oracle SQL that
    ``scripts/check_correctness.py`` runs where the catalog has one, the
    numpy parity of ``tests/test_scoring.py`` for q49, and the per-clip run
    scan for q134."""
    import duckdb

    from audit_anomaly_detection_etl_spark.operators import scoring
    from scripts.check_correctness import value_hash

    out = {}
    con = duckdb.connect()
    for t in sorted(os.listdir(data)):
        con.execute(
            f"CREATE VIEW {t.split('.')[0]} AS SELECT * FROM read_parquet('{data}/{t}/*.parquet')"
        )
    for name in ("q22_minhash_lsh", "q94_edit_verified_pairs", "q97_fk_health_matrix"):
        cur = con.execute(Q.ORACLES[name])
        out[name] = value_hash(cur.fetchall(), [d[0] for d in cur.description])
    con.close()

    feats, model = Q.fit_user_ensemble(spark, data)
    pdf = feats.orderBy("user_id").toPandas()
    X = pdf[Q.USER_FEATURE_COLS].to_numpy(np.float64)
    raw = {m: det.decision_function(X) for m, det in model.detectors().items()}
    preds = {m: (raw[m] < 0).astype(int) for m in raw}
    norm = []
    for m in scoring.MODEL_NAMES:
        inv = -raw[m]
        lo, hi = inv.min(), inv.max()
        norm.append((inv - lo) / (hi - lo) if hi > lo else np.zeros_like(inv))
    votes = sum(preds[m] for m in scoring.MODEL_NAMES)
    rows = list(zip(
        pdf["user_id"].tolist(), preds["iforest"].tolist(), preds["robust_z"].tolist(),
        preds["knn"].tolist(),
        ((preds["iforest"] == 1) & (votes >= 2)).astype(int).tolist(),
        np.round(np.mean(norm, axis=0), 6).tolist(),
    ))
    out["q49_anomaly_ensemble"] = value_hash(rows, [
        "user_id", "iforest_pred", "robust_z_pred", "knn_pred",
        "anomaly_prediction", "anomaly_score",
    ])

    summ = oracles.dropout_summary(_q134_fixture(), 30.0)
    out["q134_dropout_audit"] = value_hash(
        [(p, *v) for p, v in summ.items()],
        ["part", "n", "n_with_dropouts", "total_dropouts", "max_dropout_ms"],
    )
    return out


WORKLOADS = {w.name: w for w in (SuiteAudio, ResumeIngest, CatalogTop)}
