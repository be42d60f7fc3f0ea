"""YAML/JSON -> SuiteSpec loader (plans/spec.py): default-file hash parity,
file-edit lineage invalidation, typo rejection — the reference's config-driven
lifecycle (conf/base/globals_template.yml, run_anomaly_detection.py:95-96)."""

import json
import os

import pytest

from audit_anomaly_detection_etl_spark.plans import spec as specmod
from audit_anomaly_detection_etl_spark.plans.spec import (
    SuiteSpec,
    spec_from_dict,
    spec_from_file,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DEFAULT_YML = os.path.join(REPO, "conf", "suite_default.yml")


class TestLoader:
    def test_default_file_matches_code_default_hash(self):
        """The shipped conf/suite_default.yml IS the code default: loading it
        must produce the identical spec_hash, so switching a job from code
        config to file config does not invalidate checkpoints."""
        assert spec_from_file(DEFAULT_YML).spec_hash() == SuiteSpec().spec_hash()

    def test_default_hash_is_pinned(self):
        """Checkpoint lineage across engine changes: every existing marker
        carries this hash, so a refactor that reorders the default checks or
        adds a SuiteSpec field (even one with a default) would silently
        re-validate every partition. A deliberate change updates the literal
        together with the engine version."""
        from audit_anomaly_detection_etl_spark import __version__

        assert __version__ == "0.2.0"
        assert SuiteSpec().spec_hash() == "4fb8a6cedc3a57d3"
        assert spec_from_file(DEFAULT_YML).spec_hash() == "4fb8a6cedc3a57d3"

    def test_hash_stable_across_loads(self, tmp_path):
        a = spec_from_file(DEFAULT_YML).spec_hash()
        b = spec_from_file(DEFAULT_YML).spec_hash()
        assert a == b

    def test_editing_file_changes_hash(self, tmp_path):
        text = open(DEFAULT_YML).read()
        p = tmp_path / "edited.yml"
        p.write_text(text.replace("psi_threshold: 0.25", "psi_threshold: 0.5"))
        assert spec_from_file(str(p)).spec_hash() != SuiteSpec().spec_hash()
        assert spec_from_file(str(p)).psi_threshold == 0.5

    def test_json_form(self, tmp_path):
        p = tmp_path / "s.json"
        p.write_text(json.dumps({"psi_threshold": 0.3, "checks": ["schema", "stats"]}))
        s = spec_from_file(str(p))
        assert s.psi_threshold == 0.3 and s.checks == ("schema", "stats")
        # absent sections keep code defaults
        assert s.schema_spec.key_col == "clip_id"

    def test_unknown_keys_rejected(self):
        with pytest.raises(ValueError, match="unknown spec key"):
            spec_from_dict({"psi_treshold": 0.3})  # typo
        with pytest.raises(ValueError, match="unknown column key"):
            spec_from_dict(
                {"schema": {"columns": [{"name": "a", "dtype": "int", "minimum": 1}]}}
            )
        with pytest.raises(ValueError, match="unknown check"):
            spec_from_dict({"checks": ["schema", "nope"]})

    def test_column_and_drift_round_trip(self, tmp_path):
        doc = {
            "schema": {
                "key_col": "k",
                "columns": [
                    {"name": "k", "dtype": "string", "nullable": False},
                    {"name": "v", "dtype": "double", "min_value": 0, "max_value": 9},
                ],
            },
            "drift": [{"col": "v", "lo": 0.0, "hi": 9.0, "n_bins": 3}],
        }
        s = spec_from_dict(doc)
        assert [c.name for c in s.schema_spec.columns] == ["k", "v"]
        assert s.schema_spec.columns[1].max_value == 9
        assert s.drift_specs[0].n_bins == 3

    def test_top_level_must_be_mapping(self, tmp_path):
        p = tmp_path / "l.yml"
        p.write_text("- a\n- b\n")
        with pytest.raises(ValueError, match="mapping at top level"):
            spec_from_file(str(p))


class TestLineage:
    def test_file_spec_drives_checkpoint_invalidation(self, spark, clip_dir, tmp_path):
        """End-to-end: run with the default file spec, re-run with an edited
        file — every partition re-validates (spec-hash lineage through the
        FILE path, extending test_spec_change_invalidates_checkpoints)."""
        from audit_anomaly_detection_etl_spark.plans.runner import run_suite

        def run(spec):
            return run_suite(
                spark,
                clips_root=os.path.join(clip_dir, "clips"),
                ref_root=os.path.join(clip_dir, "clips_ref"),
                hist_ref_path=os.path.join(clip_dir, "hist_ref.parquet"),
                checkpoint_dir=str(tmp_path / "ck"),
                spec=spec,
            )

        first = run(spec_from_file(DEFAULT_YML))
        assert len(first.ran_parts) == 16
        # identical file content -> all parts resume-skip
        again = run(spec_from_file(DEFAULT_YML))
        assert again.ran_parts == []
        edited = tmp_path / "e.yml"
        edited.write_text(
            open(DEFAULT_YML).read().replace("uniqueness_salts: 32", "uniqueness_salts: 16")
        )
        res = run(spec_from_file(str(edited)))
        assert len(res.ran_parts) == 16
