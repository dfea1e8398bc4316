"""Unit tests for the audit-slot rotation rule itself
(``_compute_audit_first``: never-audited in registration order >
oldest evidence) against a SYNTHETIC ledger, so the rule's edge cases
stay guarded independently of the live CORRECTNESS history that
tests/test_oracle_parity.py checks the real window against."""

from __future__ import annotations

import pytest

import data_engineering_spotify_etl_airflow_aws_spark as engine


def _run(queries, ledger, monkeypatch, window=5):
    monkeypatch.setattr(engine, "AUDIT_WINDOW", window)
    import data_engineering_spotify_etl_airflow_aws_spark.audit as audit

    monkeypatch.setattr(audit, "last_green_audit", lambda: ledger)
    return engine._compute_audit_first(queries)


@pytest.fixture()
def queries():
    # the rule reads only the registration order of the names
    return dict.fromkeys(["d1", "d2", "e1", "e2", "s1", "s2"])


def test_never_audited_in_registration_order(queries, monkeypatch):
    # nothing audited: the window is the registry's head, whatever
    # module each query lives in
    out = _run(queries, {}, monkeypatch, window=6)
    assert out == ["d1", "d2", "e1", "e2", "s1", "s2"]


def test_never_audited_outranks_rotation(queries, monkeypatch):
    # e2 and s1 have no green row: they lead, ahead of the oldest
    # evidence, and the rotation follows by (round, registration)
    ledger = {"d1": 5, "d2": 3, "e1": 2, "s2": 4}
    out = _run(queries, ledger, monkeypatch, window=4)
    assert out == ["e2", "s1", "e1", "d2"]


def test_rotation_prefers_oldest_evidence(queries, monkeypatch):
    # everything audited: oldest green round first, then registration
    ledger = {"d1": 5, "d2": 3, "e1": 2, "e2": 6, "s1": 2, "s2": 4}
    out = _run(queries, ledger, monkeypatch, window=4)
    assert out == ["e1", "s1", "d2", "s2"]


def test_window_truncates(queries, monkeypatch):
    out = _run(queries, {}, monkeypatch, window=2)
    assert out == ["d1", "d2"]
