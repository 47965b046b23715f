"""Round-8 items:

- session config assembly must APPEND the Derby-home flag to pre-existing
  ``spark.driver.extraJavaOptions`` (spark-defaults.conf / env) instead of
  clobbering them (round-8 advice, session.py:44);
- self-gate dtype-parity negative probes: NaN-vs-NULL float columns and
  Decimal-vs-float dtype mixing must FAIL the self-check the way the
  driver's canonicalizer would (verdict item 4);
- gate-prefix generator: the committed ``_GATE_PREFIX`` list must equal the
  list scripts/gen_gate_prefix.py computes from the CORRECTNESS_r*.json
  evidence history (verdict item 8).
"""

from __future__ import annotations

import os

import pytest


# ---------------------------------------------------------------------------
# session.py: extraJavaOptions append, not clobber
# ---------------------------------------------------------------------------
def test_driver_java_options_appends_to_spark_defaults(tmp_path, monkeypatch):
    from energy_data_stream_processing_spark.session import _driver_java_options

    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text(
        "# comment\n"
        "spark.executor.memory 4g\n"
        "spark.driver.extraJavaOptions -Xss4m -Dfoo=bar\n"
    )
    monkeypatch.setenv("SPARK_CONF_DIR", str(conf))
    monkeypatch.delenv("SPARK_DRIVER_EXTRA_JAVA_OPTIONS", raising=False)
    got = _driver_java_options("/tmp/run")
    assert "-Xss4m" in got.split() and "-Dfoo=bar" in got.split()
    assert "-Dderby.system.home=/tmp/run" in got.split()
    # pre-existing flags come first (defaults), ours appended
    assert got.index("-Xss4m") < got.index("-Dderby.system.home")


def test_driver_java_options_env_var_wins_and_no_duplicate(monkeypatch):
    from energy_data_stream_processing_spark.session import _driver_java_options

    monkeypatch.setenv(
        "SPARK_DRIVER_EXTRA_JAVA_OPTIONS",
        "-XX:+UseG1GC -Dderby.system.home=/tmp/run",
    )
    got = _driver_java_options("/tmp/run")
    assert got.split().count("-Dderby.system.home=/tmp/run") == 1
    assert "-XX:+UseG1GC" in got.split()


def test_driver_java_options_bare_default(monkeypatch):
    from energy_data_stream_processing_spark.session import _driver_java_options

    monkeypatch.delenv("SPARK_DRIVER_EXTRA_JAVA_OPTIONS", raising=False)
    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    monkeypatch.delenv("SPARK_HOME", raising=False)
    # round 16: the wide-codegen JIT flag is appended by default (see
    # session.py _driver_java_options; a deployment's explicit
    # DontCompileHugeMethods choice wins and suppresses it)
    assert _driver_java_options("/x") == (
        "-Dderby.system.home=/x -XX:-DontCompileHugeMethods"
    )
    assert _driver_java_options("/x") == _driver_java_options("/x")


def test_driver_java_options_respects_explicit_jit_choice(monkeypatch):
    from energy_data_stream_processing_spark.session import _driver_java_options

    monkeypatch.setenv(
        "SPARK_DRIVER_EXTRA_JAVA_OPTIONS", "-XX:+DontCompileHugeMethods"
    )
    out = _driver_java_options("/x")
    assert "-XX:-DontCompileHugeMethods" not in out
    assert out.startswith("-XX:+DontCompileHugeMethods")


# ---------------------------------------------------------------------------
# self-gate dtype-parity red-team probes (verdict item 4): the remaining
# canonicalization divergences the driver's hash compare is sensitive to
# must FAIL the self-check — NaN-vs-NULL float cells and Decimal-vs-float
# dtype mixing.
# ---------------------------------------------------------------------------
def _self_canon():
    import sys

    sys.path.insert(
        0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "scripts")
    )
    from self_correctness import _canon

    return _canon


def test_self_gate_flags_nan_vs_null_float_columns():
    """A Spark result carrying float NaN where the oracle has SQL NULL must
    hash-mismatch (pandas would collapse both to NaN in a float64 column —
    the self-check may not): NaN canonicalizes to its own deterministic
    token, distinct from NULL and stable across runs."""
    _canon = _self_canon()
    nan_rows = [(1, float("nan"))]
    null_rows = [(1, None)]
    cols = ["id", "v"]
    assert _canon(nan_rows, cols)[1] != _canon(null_rows, cols)[1]
    # deterministic: NaN != NaN as floats, but the canonical form is stable
    assert _canon(nan_rows, cols)[1] == _canon([(1, float("nan"))], cols)[1]


def test_self_gate_flags_decimal_vs_float_dtype_mixing():
    """A Spark DECIMAL column against an oracle DOUBLE (or int) of equal
    value must hash-mismatch — the driver's compare is dtype-sensitive, so
    the self-gate has to be at least as strict (the HUGEINT-vs-bigint
    artifact class that burned rounds 1-2, now for Decimal)."""
    from decimal import Decimal

    _canon = _self_canon()
    assert _canon([(Decimal("5"),)], ["v"])[1] != _canon([(5.0,)], ["v"])[1]
    assert _canon([(Decimal("5"),)], ["v"])[1] != _canon([(5,)], ["v"])[1]
    assert _canon([(Decimal("5.0"),)], ["v"])[1] == _canon([(Decimal("5.0"),)], ["v"])[1]


# ---------------------------------------------------------------------------
# gate-prefix rotation generator (verdict item 8): the committed
# _GATE_PREFIX must be exactly what scripts/gen_gate_prefix.py computes from
# CORRECTNESS_r*.json evidence age, so a future round can't mis-rotate.
# ---------------------------------------------------------------------------
def _gen_gate_prefix():
    import sys

    sys.path.insert(
        0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "scripts")
    )
    import gen_gate_prefix

    return gen_gate_prefix


def test_gate_prefix_matches_generator():
    """Committed prefix == regeneration from evidence age + the DECLARED
    changed head (_GATE_CHANGED), i.e. the `--check` mode the round
    workflow runs."""
    g = _gen_gate_prefix()
    changed, committed, horizon = g.committed_lists()
    assert len(committed) == 50
    assert (
        g.gen_prefix(changed, cap=len(committed), max_round=horizon) == committed
    )
    assert "ok" in g.check()


def test_gate_prefix_check_catches_mangled_rotation(monkeypatch):
    """--check must FAIL for a hand-mangled rotation (code-review round 8:
    an inferred changed head absorbed any mangle and regenerated every
    list to itself, making the check vacuous). Swap two tail entries and
    the regeneration diff must raise."""
    import pytest

    g = _gen_gate_prefix()
    changed, committed, horizon = g.committed_lists()
    mangled = list(committed)
    mangled[-1], mangled[-2] = mangled[-2], mangled[-1]
    monkeypatch.setattr(
        g, "committed_lists", lambda: (changed, mangled, horizon)
    )
    with pytest.raises(SystemExit):
        g.check()


def test_gate_prefix_generator_bounds_changed_head():
    """A changed set large enough to starve the rotation is a hard error."""
    import pytest

    from energy_data_stream_processing_spark.plans.catalog import all_queries

    g = _gen_gate_prefix()
    qs = all_queries()
    many = sorted(n for n in qs if qs[n].oracle is not None)[: g.MAX_CHANGED + 1]
    with pytest.raises(SystemExit, match="bound"):
        g.gen_prefix(many)


def test_gate_prefix_generator_rejects_bad_changed_names():
    """Unknown and rows-only (oracle-less) names must be hard errors — a
    typo or an unhashable entry would silently waste a sampled slot."""
    import pytest

    g = _gen_gate_prefix()
    with pytest.raises(SystemExit, match="not in catalog"):
        g.gen_prefix(["no_such_query_xyz"])
    with pytest.raises(SystemExit, match="rows-only"):
        g.gen_prefix(["dedup_minhash_lsh"])  # rows-only by design


def test_gate_prefix_orders_by_evidence_age():
    """The backfill after the changed head is (latest-evidence-round, name)
    ascending over oracle-backed entries, never-sampled first."""
    g = _gen_gate_prefix()
    latest = g.evidence_age()
    out = g.gen_prefix(["customer_view"], cap=50)
    assert out[0] == "customer_view"
    ages = [latest.get(n, 0) for n in out[1:]]
    assert ages == sorted(ages)
