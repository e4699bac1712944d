"""CLI `report` subcommand: every table-health / privacy report is
reachable from the spark-submit entry point and prints one JSON line
per result row."""

import json

from data_validation_spark.cli import main


def _lines(capsys):
    out = capsys.readouterr().out.strip().splitlines()
    return [json.loads(ln) for ln in out if ln.startswith("{")]


def test_report_missingness_and_types(spark, tmp_path, capsys):
    path = str(tmp_path / "t")
    spark.createDataFrame(
        [("1", None), ("2", None), ("x", "b")],
        "a string, b string").write.parquet(path)

    assert main(["report", "--input", path, "--kind", "missingness",
                 "--cols", "a,b"]) == 0
    rows = _lines(capsys)
    assert rows[0]["col_a"] == "a" and rows[0]["n_rows"] == 3

    assert main(["report", "--input", path, "--kind",
                 "suggest-types"]) == 0
    types = {r["column"]: r["suggested_type"] for r in _lines(capsys)}
    assert types == {"a": "string", "b": "string"}


def test_report_k_anonymity_and_skew(spark, tmp_path, capsys):
    path = str(tmp_path / "t")
    spark.createDataFrame(
        [("z1", 1), ("z1", 2), ("z2", 3)],
        "zip string, v int").write.parquet(path)

    assert main(["report", "--input", path, "--kind", "k-anonymity",
                 "--keys", "zip", "--k", "2", "--sensitive", "v"]) == 0
    r = _lines(capsys)[0]
    assert (r["n_groups"], r["n_groups_below_k"]) == (2, 1)

    assert main(["report", "--input", path, "--kind", "skew",
                 "--keys", "zip", "--top-n", "1"]) == 0
    assert _lines(capsys)[0]["zip"] == "z1"


def test_report_join_explosion_requires_dim(spark, tmp_path, capsys):
    import pytest
    path = str(tmp_path / "t")
    spark.createDataFrame([("a",)], "k string").write.parquet(path)
    with pytest.raises(SystemExit):
        main(["report", "--input", path, "--kind", "join-explosion",
              "--keys", "k"])
    capsys.readouterr()
    assert main(["report", "--input", path, "--kind", "join-explosion",
                 "--keys", "k", "--dim-input", path]) == 0
    assert _lines(capsys)[0]["out_rows"] == "1"


def test_validate_writes_markdown_report(spark, sequences, tmp_path,
                                         capsys, monkeypatch):
    from data_validation_spark.plans.report import render_markdown
    from data_validation_spark.plans.runner import run_validation
    from data_validation_spark.plans.suite import (
        Component, Constraint, ValidationSuite)
    suite = ValidationSuite(
        name="rep", components=[Component("n_tok", "numeric"),
                                Component("source", "categoric")],
        partition_cols=["source"],
        constraints=[Constraint("n_pos", "bounds",
                                {"component": "n_tok", "min": 1}),
                     Constraint("uniq", "unique", {"keys": ["doc_id"]})])
    res = run_validation(spark, sequences, suite)
    md = render_markdown(res.profile, res.verdicts, res.drift,
                         title="rep")
    assert md.startswith("# rep — validation report")
    assert "## Components" in md and "| n_tok | numeric |" in md
    assert "## Verdicts" in md and "uniq" in md
    # failed checks sort first and are bolded
    assert "**FAIL**" in md  # seeded dup doc_ids trip `uniq`
    out = tmp_path / "r.md"
    from data_validation_spark.plans.report import save_report
    save_report(str(out), res.profile, res.verdicts, res.drift)
    assert out.read_text() == render_markdown(res.profile, res.verdicts,
                                              res.drift)


def test_validate_ge_suite_cli_path(spark, tmp_path, capsys):
    import json as _json
    data = str(tmp_path / "data")
    spark.createDataFrame(
        [("a1", 5), ("a2", 50)], "doc_id string, val int") \
        .write.parquet(data)
    ge = tmp_path / "ge.json"
    ge.write_text(_json.dumps({
        "expectation_suite_name": "cli_ge",
        "expectations": [
            {"expectation_type": "expect_column_values_to_be_between",
             "kwargs": {"column": "val", "max_value": 10}}]}))
    rc = main(["validate", "--input", data, "--ge-suite", str(ge),
               "--no-resume"])
    out = _lines(capsys)[-1]
    assert rc == 2 and out["passed"] is False   # the 50 breaches
    assert out["n_violations"] == 1
