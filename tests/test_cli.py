"""CLI entry-point smoke: the `python -m etl_mini_dw_spark` product
surface runs Stage 1-5 end-to-end, emits one JSON line per load and
per validation, and exits 0 on a clean run."""

from __future__ import annotations

import json

from etl_mini_dw_spark.__main__ import main


def test_cli_run_all_and_validate(spark, sf_dir, tmp_path, capsys):
    rc = main(["--sf-dir", sf_dir, "--store", str(tmp_path / "dw")])
    out = [json.loads(line) for line in capsys.readouterr().out.splitlines()]
    assert rc == 0
    loads = {o["load"] for o in out if "load" in o}
    assert loads == {"customer", "salesperson", "product", "fact_sales"}
    assert all(o["seconds"] >= 0 for o in out if "load" in o)
    # every load wrote a run-log row, DimDate's build included
    from etl_mini_dw_spark.etl import runlog
    from etl_mini_dw_spark.etl.store import ParquetStore

    runs = runlog.latest(spark, ParquetStore(str(tmp_path / "dw")))
    assert set(runs) == {
        "etl_load_dim_date",
        "etl_load_dim_customer",
        "etl_load_dim_salesperson",
        "etl_load_dim_product",
        "etl_load_fact_sales",
    }
    assert all(o["violations"] == 0 for o in out if "violations" in o)
    assert [o["missing"] for o in out if "missing" in o] == [[]]


def test_cli_is_idempotent(spark, sf_dir, tmp_path, capsys):
    store = str(tmp_path / "dw")
    assert main(["--sf-dir", sf_dir, "--store", store, "--skip-validate"]) == 0
    capsys.readouterr()
    assert main(["--sf-dir", sf_dir, "--store", store, "--skip-validate"]) == 0
    second = [json.loads(line) for line in capsys.readouterr().out.splitlines()]
    # second run is incremental: nothing new arrives at the same watermark
    for o in second:
        assert o.get("inserted", 0) == 0 or o["load"] == "fact_sales"
