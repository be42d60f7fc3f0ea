"""Independent answers the benchmark checks every op against.

- Default suite checks: the generator's ``violations_expected`` sidecar
  (normalised to check families as ``tests/test_checkpoint_resume.py``
  does), plus what the benchmark itself planted.
- Audio opt-in checks: a per-clip numpy recomputation of each check's
  documented rule (``audio_optin_oracle``). It shares only
  ``codecs.decode`` and the engine's threshold constants with the engine;
  none of the batched concatenate/``reduceat`` code. Clips whose value lies
  within a relative 1e-6 of a threshold are left out of the comparison, so
  summation order cannot flip a verdict.
- Every partition verdict must agree with that partition's sink rows.
"""

from __future__ import annotations

import os
import re

import numpy as np
import pandas as pd
import pyarrow.dataset as ds

from audit_anomaly_detection_etl_spark.functions import codecs
from audit_anomaly_detection_etl_spark.operators import media, payload

OPTIN_CHECKS = ("speaking_rate", "loudness", "dropout", "codec_sniff", "tonal", "stutter")
_REL = 1e-6
_WS = re.compile(r"\s+")


def family(check: str, detail: str) -> str:
    """An unknown codec is reported by the schema domain constraint and by
    the payload decode; both belong to the sidecar's ``codec`` family."""
    return "codec" if check == "schema_constraint" and detail == "codec:domain" else check


def sink_rows(violations_dir: str | None) -> pd.DataFrame:
    cols = ["key", "check", "detail", "part"]
    if not violations_dir or not os.path.isdir(violations_dir):
        return pd.DataFrame(columns=cols)
    t = ds.dataset(violations_dir, format="parquet", partitioning="hive").to_table(
        columns=cols
    )
    df = t.to_pandas()
    df["part"] = df["part"].astype(int)
    return df


def check_suite(
    sink: pd.DataFrame,
    verdicts: dict,
    expected: dict[str, set],
    ambiguous: dict[str, set] | None = None,
    sink_cap: int | None = None,
) -> list[str]:
    """Compare sink rows with the expected ``{family: {key}}`` sets and every
    verdict with its partition's rows. Returns the failures (empty = ok)."""
    errors: list[str] = []
    ambiguous = ambiguous or {}
    got: dict[str, set] = {}
    for k, c, d in zip(sink["key"], sink["check"], sink["detail"]):
        got.setdefault(family(c, d), set()).add(k)
    for fam in sorted(set(got) | set(expected)):
        skip = ambiguous.get(fam, set())
        g, e = got.get(fam, set()) - skip, expected.get(fam, set()) - skip
        if g != e:
            errors.append(
                f"{fam}: {len(g - e)} unexpected, {len(e - g)} missing "
                f"(e.g. {sorted(g - e)[:2]} / {sorted(e - g)[:2]})"
            )
    rows_per_part = sink.groupby("part").size().to_dict() if len(sink) else {}
    if sink_cap is not None and len(sink):
        if int(sink.groupby(["part", "check"]).size().max()) >= sink_cap:
            errors.append("sink cap reached: verdict counts cannot be checked")
    for p, v in verdicts.items():
        n = int(rows_per_part.get(int(p), 0))
        if v.passed != (n == 0) or v.n_violations != n:
            errors.append(
                f"part {p}: verdict passed={v.passed} n_violations="
                f"{v.n_violations} but {n} sink rows"
            )
    return errors


# ---------------------------------------------------------------------------
# audio opt-in checks, one clip at a time
# ---------------------------------------------------------------------------

def _near(x: float, thr: float) -> bool:
    return abs(x - thr) <= _REL * max(abs(thr), 1e-12)


def _decode(raw, codec: str) -> np.ndarray | None:
    if codec not in codecs.CODECS or raw is None or len(raw) == 0:
        return None
    if len(raw) % codecs.bytes_per_sample(codec):
        return None
    with np.errstate(invalid="ignore"):
        return np.asarray(codecs.decode(raw, codec), dtype=np.float64)


def _interior_silences_ms(x: np.ndarray, sr: int, eps: float) -> list[float]:
    m = np.abs(x) <= eps
    runs, start = [], None
    for i, v in enumerate(m):
        if v and start is None:
            start = i
        elif not v and start is not None:
            runs.append((start, i - 1))
            start = None
    if start is not None:
        runs.append((start, len(m) - 1))
    return [
        (e - s + 1) / sr * 1000.0 for s, e in runs if s > 0 and e < len(m) - 1
    ]


def _stutter(x: np.ndarray, sr: int, frame_ms: float, min_rep: int, eps: float) -> bool:
    flen = max(1, int(round(sr * frame_ms / 1000.0)))
    k = len(x) // flen
    run = 1
    for f in range(1, k):
        a, b = x[(f - 1) * flen : f * flen], x[f * flen : (f + 1) * flen]
        if np.array_equal(a, b) and np.abs(b).max() > eps:
            run += 1
            if run >= min_rep:
                return True
        else:
            run = 1
    return False


def _flatness(x: np.ndarray, max_samples: int = 8192, min_samples: int = 256) -> float | None:
    m = min(len(x), max_samples)
    if m < min_samples or not np.isfinite(x[:m]).all():
        return None
    p = np.abs(np.fft.rfft(x[:m] * np.hanning(m))[1:]) ** 2
    mean = p.sum() / len(p)
    if mean <= 0:
        return None
    return float(np.exp(np.log(p + mean * 1e-12).mean()) / mean)


def _roughness(raw, codec: str) -> tuple[float, float] | None:
    x = _decode(raw, codec)
    if x is None or len(x) < 2:
        return None
    n = len(x)
    energy = float(np.sum(x * x))
    diff = float(np.sum((x[1:] - x[:-1]) ** 2))
    with np.errstate(divide="ignore", invalid="ignore", over="ignore"):
        r = (diff / (n - 1)) / (energy / n) if energy > 0 else float("nan")
    if not (energy > 0 and np.isfinite(r)):
        return None
    return r, energy / n


def audio_optin_oracle(clips: pd.DataFrame, spec) -> tuple[dict[str, set], dict[str, set]]:
    """``({family: flagged keys}, {family: keys too close to call})`` for the
    six audio opt-in checks under ``spec``'s parameters."""
    flagged = {c: set() for c in OPTIN_CHECKS}
    near = {c: set() for c in OPTIN_CHECKS}
    lo_wps, hi_wps = spec.speaking_rate_bounds
    target, tol = spec.loudness_bounds
    frame_ms, min_rep = spec.stutter_params
    eps = media._DROPOUT_ZERO_EPS
    for key, raw, codec, sr, dur, txt in zip(
        clips["clip_id"], clips["bytes"], clips["codec"], clips["sr_hz"],
        clips["dur_ms"], clips["transcript"],
    ):
        sr, dur = int(sr), int(dur)
        if txt is not None and txt.strip(" ") and dur > 0:
            wps = len([w for w in _WS.split(txt.strip(" ")) if w]) / (dur / 1000.0)
            if _near(wps, lo_wps) or _near(wps, hi_wps):
                near["speaking_rate"].add(key)
            elif wps < lo_wps or wps > hi_wps:
                flagged["speaking_rate"].add(key)

        sniff = {c: _roughness(raw, c) for c in codecs.CODECS}
        decl = sniff.get(codec)
        alts = [v[0] for c, v in sniff.items() if c != codec and v is not None]
        if decl is not None and alts:
            ratio = decl[0] / min(alts)
            gates = [
                (decl[0], payload._SNIFF_MIN_ROUGHNESS),
                (ratio, payload._SNIFF_RATIO),
                (decl[1], payload._SNIFF_MIN_RMS**2),
            ]
            if any(_near(v, t) for v, t in gates):
                near["codec_sniff"].add(key)
            elif all(v >= t for v, t in gates):
                flagged["codec_sniff"].add(key)

        x = _decode(raw, codec)
        if x is None:
            continue
        rms = float(np.sqrt(np.sum(x * x) / len(x)))
        peak = float(np.max(np.abs(x)))
        if rms > 0 and np.isfinite(rms):
            gain = target - 20.0 * np.log10(rms)
            headroom = -20.0 * np.log10(peak)
            if _near(abs(gain), tol) or _near(gain, headroom) or _near(gain, 0.0):
                near["loudness"].add(key)
            elif abs(gain) > tol and gain > 0 and gain > headroom:
                flagged["loudness"].add(key)
        if sr > 0:
            runs = _interior_silences_ms(x, sr, eps)
            if any(_near(r, spec.dropout_min_run_ms) for r in runs):
                near["dropout"].add(key)
            elif any(r >= spec.dropout_min_run_ms for r in runs):
                flagged["dropout"].add(key)
            if _stutter(x, sr, frame_ms, int(min_rep), eps):
                flagged["stutter"].add(key)
        fl = _flatness(x)
        if fl is not None:
            if _near(fl, spec.tonal_flatness_threshold):
                near["tonal"].add(key)
            elif fl < spec.tonal_flatness_threshold:
                flagged["tonal"].add(key)
    return flagged, near


def dropout_summary(clips: pd.DataFrame, min_run_ms: float) -> dict[int, tuple]:
    """Per part ``(n, n_with_dropouts, total_dropouts, max_dropout_ms)`` —
    the shape of catalog query q134 — from the per-clip run scan. An
    undecodable clip's NaN maximum reaches Spark as null (Arrow converts
    pandas NaN to null), so it drops out of the part's maximum."""
    out: dict[int, list] = {}
    for raw, codec, sr, part in zip(clips["bytes"], clips["codec"], clips["sr_hz"], clips["part"]):
        acc = out.setdefault(int(part), [0, 0, 0, None])
        acc[0] += 1
        x = _decode(raw, codec)
        if x is None:
            continue
        runs = (
            [
                r
                for r in _interior_silences_ms(x, int(sr), media._DROPOUT_ZERO_EPS)
                if r >= min_run_ms
            ]
            if int(sr) > 0
            else []
        )
        acc[1] += bool(runs)
        acc[2] += len(runs)
        acc[3] = max([acc[3] or 0.0, *runs])
    return {
        p: (n, k, t, None if m is None else round(m, 3)) for p, (n, k, t, m) in out.items()
    }
