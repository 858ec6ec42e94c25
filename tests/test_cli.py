"""CLI smoke tests (the reference's CLI-level test layer,
dbtwiz tests/test_cli.py): drive `python -m dbtwiz_spark` commands
end-to-end against a tiny on-disk project over the sf0.001 testdata."""

from __future__ import annotations

import json

import pytest

from dbtwiz_spark.cli import main
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def project(tmp_path_factory):
    root = tmp_path_factory.mktemp("proj")
    (root / "models").mkdir()
    (root / "project.yml").write_text("name: demo\nvars:\n  min_bal: 0\n")
    (root / "sources.yml").write_text(
        "sources:\n"
        f"  - name: customer\n    path: {SF_DIR}/customer.parquet\n"
        f"  - name: orders\n    path: {SF_DIR}/orders.parquet\n"
    )
    (root / "models" / "stg_customer.sql").write_text(
        "SELECT c_custkey, c_nationkey, c_acctbal FROM {{ source('raw', 'customer') }} "
        "WHERE c_acctbal > {{ var('min_bal', 0) }}"
    )
    (root / "models" / "stg_customer.yml").write_text("materialized: view\n")
    (root / "models" / "mrt_nation_balance.sql").write_text(
        "SELECT c_nationkey, SUM(c_acctbal) AS total_bal, COUNT(*) AS n "
        "FROM {{ ref('stg_customer') }} GROUP BY c_nationkey"
    )
    (root / "models" / "mrt_nation_balance.yml").write_text(
        "materialized: table\nunique_key: c_nationkey\n"
    )
    (root / "models" / "daily_orders.sql").write_text(
        "SELECT CAST(o_orderdate AS DATE) AS partitiondate, COUNT(*) AS n "
        "FROM {{ source('raw', 'orders') }} "
        "WHERE o_orderdate >= {{ interval_start() }} "
        "AND o_orderdate < {{ interval_end() }} GROUP BY 1"
    )
    (root / "models" / "daily_orders.yml").write_text(
        "materialized: incremental\nincremental_strategy: insert_overwrite\n"
        "partition_by: partitiondate\n"
    )
    return root


@pytest.fixture(scope="module")
def wh_dir(tmp_path_factory):
    return str(tmp_path_factory.mktemp("wh"))


def test_manifest_command(project, capsys):
    assert main(["manifest", "--project", str(project)]) == 0
    out = json.loads(capsys.readouterr().out)
    assert out["mrt_nation_balance"]["parents"] == ["stg_customer"]
    assert list(out).index("stg_customer") < list(out).index("mrt_nation_balance")


def test_build_and_test(spark, project, wh_dir, capsys):
    rc = main(
        ["build", "--project", str(project), "--warehouse", wh_dir,
         "--select", "+mrt_nation_balance"]
    )
    out = capsys.readouterr().out
    assert rc == 0, out
    assert "mrt_nation_balance" in out
    # pk uniqueness check passes on the built table
    assert main(["test", "--project", str(project), "--warehouse", wh_dir,
                 "--select", "mrt_nation_balance"]) == 0
    assert "pass" in capsys.readouterr().out


def test_backfill_and_incremental(spark, project, wh_dir, capsys):
    rc = main(
        ["backfill", "--project", str(project), "--warehouse", wh_dir,
         "--select", "daily_orders", "--first", "1995-01-01",
         "--last", "1995-01-31", "--batch-days", "10"]
    )
    out = capsys.readouterr().out
    assert rc == 0, out
    assert out.count("success") == 4  # 31 days / 10-day chunks
    from dbtwiz_spark.materialize import Warehouse

    built = Warehouse(spark, wh_dir).read("daily_orders")
    days = [str(r.partitiondate) for r in built.select("partitiondate").collect()]
    assert days and all(d.startswith("1995-01") for d in days)


def test_orphaned_detection(spark, project, wh_dir, capsys):
    from dbtwiz_spark.materialize import Warehouse

    wh = Warehouse(spark, wh_dir)
    wh.write_table("zombie_table", wh.read("mrt_nation_balance"), snapshot=False)
    assert main(["admin", "orphaned", "--project", str(project),
                 "--warehouse", wh_dir]) == 0
    assert "zombie_table" in capsys.readouterr().out
    assert main(["admin", "orphaned", "--project", str(project),
                 "--warehouse", wh_dir, "--delete"]) == 0
    assert not wh.exists("zombie_table")


def test_cleandev_dry_run(project, wh_dir, capsys):
    assert main(["admin", "cleandev", "--warehouse", wh_dir]) == 0
    out = capsys.readouterr().out
    assert "would delete" in out and "daily_orders" in out


def test_model_and_source_create(spark, tmp_path, capsys):
    proj = tmp_path / "p2"
    proj.mkdir()
    assert main(["source", "create", "--project", str(proj), "--name", "nation",
                 "--path", f"{SF_DIR}/nation.parquet"]) == 0
    assert "declared source nation" in capsys.readouterr().out
    # duplicate declaration refused
    assert main(["source", "create", "--project", str(proj), "--name", "nation",
                 "--path", f"{SF_DIR}/nation.parquet"]) == 1
    capsys.readouterr()
    assert main(["model", "create", "--project", str(proj), "--name", "stg_nation",
                 "--parent", "nation", "--materialized", "incremental",
                 "--cluster-by", "n_name"]) == 0
    capsys.readouterr()
    import yaml
    cfg = yaml.safe_load((proj / "models" / "stg_nation.yml").read_text())
    assert cfg["incremental_strategy"] == "insert_overwrite"
    assert cfg["require_partition_filter"] is True and cfg["cluster_by"] == ["n_name"]
    # the scaffolded project loads and the dependency is wired
    from dbtwiz_spark.project import load_project
    manifest, _ = load_project(proj)
    assert manifest.parent_map["stg_nation"] == {"nation"}


def test_admin_sync_and_grants_and_clustering(spark, tmp_path, capsys):
    import yaml
    proj = tmp_path / "p3"
    (proj / "models").mkdir(parents=True)
    (proj / "sources.yml").write_text(
        f"sources:\n  - name: nation\n    path: {SF_DIR}/nation.parquet\n"
    )
    (proj / "models" / "dim_nation.sql").write_text(
        "SELECT n_nationkey, n_name, n_regionkey FROM {{ source('raw','nation') }}"
    )
    (proj / "models" / "dim_nation.yml").write_text(yaml.safe_dump({
        "materialized": "table",
        "description": "nation dimension",
        "cluster_by": ["n_name"],
        "meta": {"grants": {"reader": ["alice", "bob"]},
                 "column_descriptions": {"n_name": "nation name"}},
    }))
    wh = str(tmp_path / "wh3")
    assert main(["build", "--project", str(proj), "--warehouse", wh]) == 0
    capsys.readouterr()
    assert main(["admin", "sync-descriptions", "--project", str(proj),
                 "--warehouse", wh]) == 0
    out = capsys.readouterr().out
    assert "dim_nation: updated" in out and "column.n_name" in out
    assert main(["admin", "update-grants", "--project", str(proj),
                 "--warehouse", wh]) == 0
    out = capsys.readouterr().out
    assert "+reader ['alice', 'bob']" in out
    # idempotent second run: nothing to do
    assert main(["admin", "update-grants", "--project", str(proj),
                 "--warehouse", wh]) == 0
    assert "grants in sync" in capsys.readouterr().out
    assert main(["admin", "update-clustering", "--project", str(proj),
                 "--warehouse", wh]) == 0
    assert "reclustered dim_nation" in capsys.readouterr().out


def test_model_validate_and_fix(spark, tmp_path, capsys):
    import yaml
    proj = tmp_path / "p4"
    (proj / "models").mkdir(parents=True)
    (proj / "sources.yml").write_text(
        f"sources:\n  - name: region\n    path: {SF_DIR}/region.parquet\n"
    )
    (proj / "models" / "dim_region.sql").write_text(
        "SELECT r_regionkey, r_name FROM {{ source('raw','region') }}"
    )
    (proj / "models" / "dim_region.yml").write_text(yaml.safe_dump({
        "materialized": "table",
        "columns": [
            {"name": "r_regionkey", "data_type": "BIGINT", "description": "pk"},
            {"name": "r_name", "data_type": "INTEGER"},      # wrong type
            {"name": "r_ghost", "data_type": "VARCHAR"},     # removed column
        ],
    }))
    wh = str(tmp_path / "wh4")
    assert main(["build", "--project", str(proj), "--warehouse", wh]) == 0
    capsys.readouterr()
    # drift detected -> nonzero
    assert main(["model", "validate", "--project", str(proj),
                 "--warehouse", wh]) == 1
    out = capsys.readouterr().out
    assert "DRIFT dim_region" in out and "r_ghost" in out and "r_name" in out
    # --fix rewrites the sidecar from the live schema, keeping descriptions
    assert main(["model", "validate", "--project", str(proj),
                 "--warehouse", wh, "--fix"]) == 0
    capsys.readouterr()
    cfg = yaml.safe_load((proj / "models" / "dim_region.yml").read_text())
    cols = {c["name"]: c for c in cfg["columns"]}
    assert set(cols) == {"r_regionkey", "r_name"}
    assert cols["r_regionkey"]["description"] == "pk"
    assert cols["r_name"]["data_type"] == "VARCHAR"
    # clean second run passes
    assert main(["model", "validate", "--project", str(proj),
                 "--warehouse", wh]) == 0
    assert "pass dim_region" in capsys.readouterr().out


def test_exclude_last_and_save_state(spark, tmp_path, capsys):
    import yaml
    proj = tmp_path / "p5"
    (proj / "models").mkdir(parents=True)
    (proj / "sources.yml").write_text(
        f"sources:\n  - name: region\n    path: {SF_DIR}/region.parquet\n"
    )
    for name, tags in (("m_keep", []), ("m_skip", ["no_backfill"])):
        (proj / "models" / f"{name}.sql").write_text(
            "SELECT * FROM {{ source('raw','region') }}"
        )
        (proj / "models" / f"{name}.yml").write_text(
            yaml.safe_dump({"materialized": "table", "tags": tags})
        )
    wh = str(tmp_path / "wh5")
    # --threads counts the models in flight: below 1 is a usage error
    with pytest.raises(SystemExit):
        main(["build", "--project", str(proj), "--warehouse", wh, "--threads", "0"])
    assert "must be at least 1" in capsys.readouterr().err
    # --exclude subtracts the tagged model (reference: exclude tag:no_backfill)
    assert main(["build", "--project", str(proj), "--warehouse", wh,
                 "--exclude", "tag:no_backfill"]) == 0
    out = capsys.readouterr().out
    assert "m_keep" in out and "m_skip" not in out
    # --last replays the saved selection
    assert main(["build", "--project", str(proj), "--warehouse", wh,
                 "--last"]) == 0
    out = capsys.readouterr().out
    assert "m_keep" in out and "m_skip" not in out
    # manifest --save-state -> state:modified selects nothing when unchanged
    state_file = str(tmp_path / "state.json")
    assert main(["manifest", "--project", str(proj),
                 "--save-state", state_file]) == 0
    capsys.readouterr()
    from dbtwiz_spark.manifest import Manifest
    from dbtwiz_spark.project import load_project
    manifest, _ = load_project(proj)
    assert manifest.select("state:modified", state=Manifest.load_state(state_file)) == []


def test_model_move_rewrites_refs_and_builds(spark, tmp_path, capsys):
    """model move: new copy + pass-through view at the old name + ref()
    rewrite in BOTH dependents; the DAG stays acyclic and builds
    (reference dbtwiz/model/__init__.py:273, model/move.py move_model)."""
    import yaml

    proj = tmp_path / "projmv"
    (proj / "models").mkdir(parents=True)
    (proj / "sources.yml").write_text(
        f"sources:\n  - name: region\n    path: {SF_DIR}/region.parquet\n"
    )
    (proj / "models" / "stg_region.sql").write_text(
        "SELECT r_regionkey, r_name FROM {{ source('raw','region') }}"
    )
    (proj / "models" / "stg_region.yml").write_text("materialized: view\n")
    for dep in ("dep_a", "dep_b"):
        (proj / "models" / f"{dep}.sql").write_text(
            "SELECT COUNT(*) AS n FROM {{ ref('stg_region') }}"
        )
        (proj / "models" / f"{dep}.yml").write_text("materialized: table\n")

    assert main([
        "model", "move", "stg_region", "stg_region_v2",
        "--project", str(proj), "--folder", "staging",
    ]) == 0
    out = capsys.readouterr().out
    assert "rewrote ref() in dep_a" in out and "rewrote ref() in dep_b" in out
    # old file is now a pass-through view over the new name
    assert "ref('stg_region_v2')" in (proj / "models" / "stg_region.sql").read_text()
    assert yaml.safe_load((proj / "models" / "stg_region.yml").read_text()) == {
        "materialized": "view"
    }
    new_sql = proj / "models" / "staging" / "stg_region_v2.sql"
    assert "source('raw','region')" in new_sql.read_text()
    # DAG is acyclic with the rewritten refs and the whole project builds
    from dbtwiz_spark.project import load_project

    manifest, _ = load_project(proj)
    order = manifest.topo_order()
    assert set(order) >= {"stg_region", "stg_region_v2", "dep_a", "dep_b"}
    assert order.index("stg_region_v2") < order.index("dep_a")
    wh = str(tmp_path / "whmv")
    assert main(["build", "--project", str(proj), "--warehouse", wh]) == 0
    assert "error" not in capsys.readouterr().out.lower()


def test_model_lint_and_fix(tmp_path, capsys):
    """model lint flags a deliberately-messy model; model fix normalizes it
    (keyword case, trailing whitespace, tabs) without touching literals or
    Jinja; lint is then clean except structural warnings."""
    proj = tmp_path / "projlint"
    (proj / "models").mkdir(parents=True)
    messy = (
        "select r_regionkey,\t\n"
        "   upper(r_name)   \n"
        "from {{ ref('stg_region') }}\n"
        "where r_name like 'a%select%'\n"
    )
    (proj / "models" / "messy.sql").write_text(messy)
    assert main(["model", "lint", "--project", str(proj)]) == 1
    out = capsys.readouterr().out
    assert "W001" in out  # trailing whitespace
    assert "W002" in out  # tab
    assert "W003" in out  # lowercase keyword
    assert "W101" in out  # computed expression without alias

    assert main(["model", "fix", "--project", str(proj)]) == 0
    capsys.readouterr()
    fixed = (proj / "models" / "messy.sql").read_text()
    assert fixed.startswith("SELECT r_regionkey,")
    assert "FROM {{ ref('stg_region') }}" in fixed  # Jinja untouched
    assert "'a%select%'" in fixed  # string literal untouched
    assert "\t" not in fixed and " \n" not in fixed
    # fix is idempotent
    from dbtwiz_spark.model_ops import fix_sql

    assert fix_sql(fixed) == fixed
    # lint after fix: only the structural (non-autofixable) alias warning
    assert main(["model", "lint", "--project", str(proj)]) == 1
    out = capsys.readouterr().out
    assert "W003" not in out and "W001" not in out and "W002" not in out
    assert "W101" in out


def test_model_lint_selection(tmp_path, capsys):
    """Name and --staged selection for lint/fix (reference
    dbtwiz/model/format.py:16-24): explicit names restrict the sweep; the
    two selectors union; staged selection reads the git index."""
    import subprocess

    proj = tmp_path / "projsel"
    (proj / "models").mkdir(parents=True)
    (proj / "models" / "clean.sql").write_text(
        "SELECT r_regionkey FROM {{ ref('stg_region') }}\n")
    (proj / "models" / "messy_a.sql").write_text("select 1 as x\t\n")
    (proj / "models" / "messy_b.sql").write_text("select 2 as y\t\n")

    # explicit name: only messy_a reported
    assert main(["model", "lint", "--project", str(proj), "messy_a"]) == 1
    out = capsys.readouterr().out
    assert "messy_a.sql" in out and "messy_b" not in out

    # staged selection: stage only messy_b, lint -s sees just it
    subprocess.run(["git", "init", "-q", str(proj)], check=True)
    subprocess.run(["git", "-C", str(proj), "add", "models/messy_b.sql"],
                   check=True)
    assert main(["model", "lint", "--project", str(proj), "--staged"]) == 1
    out = capsys.readouterr().out
    assert "messy_b.sql" in out and "messy_a" not in out

    # union of the two selectors; fix honors the same selection
    assert main(["model", "fix", "--project", str(proj), "messy_a", "-s"]) == 0
    out = capsys.readouterr().out
    assert "fixed messy_a.sql" in out and "fixed messy_b.sql" in out
    assert "\t" not in (proj / "models" / "messy_a.sql").read_text()
    assert "\t" not in (proj / "models" / "messy_b.sql").read_text()

    # no selectors -> whole project (clean.sql passes, nothing left to flag
    # except structural findings; tabs are gone everywhere)
    from dbtwiz_spark.model_ops import staged_model_files

    # non-git directory degrades to empty staged set, not an error
    assert staged_model_files(tmp_path / "no_git_here") == []


def test_model_inspect(project, capsys):
    """model inspect: per-model config + ancestor/descendant closures
    (dbtwiz/model/__init__.py:210, model/inspect.py)."""
    assert main(["model", "inspect", "mrt_nation_balance",
                 "--project", str(project)]) == 0
    out = capsys.readouterr().out
    assert "Model: mrt_nation_balance" in out
    assert "unique_key: c_nationkey" in out
    assert "Ancestors:\n- stg_customer" in out
    assert main(["model", "inspect", "stg_customer",
                 "--project", str(project)]) == 0
    out = capsys.readouterr().out
    assert "Descendants:\n- mrt_nation_balance" in out
    assert main(["model", "inspect", "nope", "--project", str(project)]) == 1


def test_explain_dry_run(spark, project, tmp_path, capsys):
    """explain: compile (refs inlined, nothing built) + physical plan +
    scale audit — works even though no parent model was ever built."""
    assert main(["explain", "mrt_nation_balance", "--project", str(project),
                 "--warehouse", str(tmp_path / "whx"), "--sql"]) == 0
    out = capsys.readouterr().out
    assert "-- compiled SQL" in out
    assert "{{ ref(" not in out          # all refs inlined
    assert "== Physical Plan ==" in out
    assert "-- plan audit" in out
    assert "exchange(s)" in out
    # nothing was materialized by a dry run
    assert not (tmp_path / "whx").exists()
    assert main(["explain", "nope", "--project", str(project),
                 "--warehouse", str(tmp_path / "whx")]) == 1


def test_model_move_same_name_folder_only(tmp_path, capsys):
    """A pure folder move (same model name) relocates the files — no
    self-referential view, no duplicate stem."""
    proj = tmp_path / "projmv2"
    (proj / "models").mkdir(parents=True)
    (proj / "models" / "m1.sql").write_text("SELECT 1 AS x")
    (proj / "models" / "m1.yml").write_text("materialized: view\n")
    assert main(["model", "move", "m1", "m1",
                 "--project", str(proj), "--folder", "core"]) == 0
    capsys.readouterr()
    assert not (proj / "models" / "m1.sql").exists()
    assert (proj / "models" / "core" / "m1.sql").read_text() == "SELECT 1 AS x"
    assert (proj / "models" / "core" / "m1.yml").exists()


def test_column_data_tests(spark, tmp_path, capsys):
    """dbt's four generic tests from the YAML sidecar: not_null, unique,
    accepted_values, relationships — run by the `test` command."""
    import yaml

    proj = tmp_path / "projtests"
    (proj / "models").mkdir(parents=True)
    (proj / "sources.yml").write_text(
        f"sources:\n  - name: nation\n    path: {SF_DIR}/nation.parquet\n"
    )
    (proj / "models" / "regions.sql").write_text(
        "SELECT DISTINCT n_regionkey FROM {{ source('raw','nation') }}"
    )
    (proj / "models" / "regions.yml").write_text(
        yaml.safe_dump({"materialized": "table"})
    )
    (proj / "models" / "nations.sql").write_text(
        "SELECT n_nationkey, n_name, n_regionkey "
        "FROM {{ source('raw','nation') }}"
    )
    (proj / "models" / "nations.yml").write_text(yaml.safe_dump({
        "materialized": "table",
        "unique_key": "n_nationkey",
        "columns": [
            {"name": "n_name", "tests": ["not_null", "unique"]},
            {"name": "n_regionkey",
             "tests": [{"accepted_values": [0, 1, 2, 3, 4]},
                       {"relationships": {"to": "regions",
                                          "field": "n_regionkey"}}]},
        ],
    }))
    wh = str(tmp_path / "whtests")
    assert main(["build", "--project", str(proj), "--warehouse", wh]) == 0
    capsys.readouterr()
    assert main(["test", "--project", str(proj), "--warehouse", wh]) == 0
    out = capsys.readouterr().out
    assert "pass nations: pk n_nationkey" in out
    assert "pass nations: not_null n_name" in out
    assert "pass nations: unique n_name" in out
    assert "pass nations: accepted_values n_regionkey" in out
    assert "pass nations: relationships n_regionkey->regions.n_regionkey" in out
    # a failing accepted_values set flips the exit code
    (proj / "models" / "nations.yml").write_text(yaml.safe_dump({
        "materialized": "table",
        "columns": [{"name": "n_regionkey",
                     "tests": [{"accepted_values": [0, 1]}]}],
    }))
    assert main(["test", "--project", str(proj), "--warehouse", wh]) == 1
    assert "FAIL nations: accepted_values" in capsys.readouterr().out


def test_explain_clear_error_without_interval(spark, project, tmp_path, capsys):
    """explain on an interval-bound model without --start fails with a clear
    message, not a TIMESTAMP 'None' parse error."""
    assert main(["explain", "daily_orders", "--project", str(project),
                 "--warehouse", str(tmp_path / "whx2")]) == 1
    out = capsys.readouterr().out
    assert "data_interval_start" in out


def test_model_move_safe_preserves_sidecar_config(tmp_path, capsys):
    """Safe move: the pass-through view's sidecar keeps column descriptions
    and data tests; only table-materialization keys are dropped, with a
    printed notice (previously the whole sidecar was silently replaced)."""
    import yaml

    from dbtwiz_spark.model_ops import move_model

    proj = tmp_path / "projsv"
    (proj / "models").mkdir(parents=True)
    (proj / "models" / "m1.sql").write_text("SELECT 1 AS k")
    (proj / "models" / "m1.yml").write_text(
        yaml.safe_dump(
            {
                "materialized": "incremental",
                "unique_key": "k",
                "description": "keep me",
                "columns": [{"name": "k", "tests": ["not_null", "unique"]}],
            }
        )
    )
    move_model(proj, "m1", "m2", safe=True)
    cfg = yaml.safe_load((proj / "models" / "m1.yml").read_text())
    assert cfg["materialized"] == "view"
    assert cfg["description"] == "keep me"
    assert cfg["columns"] == [{"name": "k", "tests": ["not_null", "unique"]}]
    assert "unique_key" not in cfg
    assert "dropped table-materialization config" in capsys.readouterr().out
    # the moved model keeps the ORIGINAL config untouched
    new_cfg = yaml.safe_load((proj / "models" / "m2.yml").read_text())
    assert new_cfg["materialized"] == "incremental" and new_cfg["unique_key"] == "k"


def test_fuzzy_picker_ranking_and_selection():
    """Dependency-free fzf analog: subsequence filter, contiguity-first
    ranking, numeric multi-select, query refinement, abort."""
    from dbtwiz_spark.picker import can_select_directly, choose_models, fuzzy_rank

    names = ["stg_orders", "stg_customers", "fct_order_items", "dim_customer"]
    # selector strings skip the picker; unknown bare names do not
    assert can_select_directly("stg_orders", names)
    assert can_select_directly("tag:nightly", names)
    assert can_select_directly("+stg_orders+", names)
    assert not can_select_directly("ord", names)
    # contiguous match ("ord" inside stg_orders/fct_order_items) beats
    # scattered subsequence matches; non-matches are filtered out
    ranked = fuzzy_rank("ord", names)
    # both match "ord" contiguously at the same offset -> shorter name wins;
    # dim_customer has no 'd' after its 'r' so it is filtered out entirely
    assert ranked == ["stg_orders", "fct_order_items"]

    # scripted IO: refine the query, then pick two by number
    script = iter(["cust", "1 2"])
    shown: list[str] = []
    picked = choose_models(
        names,
        query="zzz-nomatch",
        input_fn=lambda _p: next(script),
        print_fn=shown.append,
    )
    assert set(picked) == {"stg_customers", "dim_customer"}
    # abort returns None
    assert choose_models(names, input_fn=lambda _p: "q", print_fn=shown.append) is None
    # enter with a single candidate picks it
    one = iter([""])
    assert choose_models(
        ["only_model"], input_fn=lambda _p: next(one), print_fn=shown.append
    ) == ["only_model"]


def test_build_unknown_selector_headless_still_errors(spark, tmp_path):
    """On a non-TTY an unknown bare selector must fail fast with the
    selector's own error, never hang on the picker."""
    import pytest as _pytest

    proj = tmp_path / "projpick"
    (proj / "models").mkdir(parents=True)
    (proj / "sources.yml").write_text(
        f"sources:\n  - name: region\n    path: {SF_DIR}/region.parquet\n"
    )
    (proj / "models" / "m_ok.sql").write_text(
        "SELECT r_regionkey FROM {{ source('raw','region') }}"
    )
    with _pytest.raises(KeyError, match="unknown model"):
        main([
            "build", "--project", str(proj),
            "--warehouse", str(tmp_path / "whpick"),
            "--select", "m_o",
        ])


def test_config_update_list_and_validation(tmp_path, monkeypatch, capsys):
    """The reference's `dbtwiz config <setting> <value>` surface
    (docs/config.md): typed updates persist to config.toml, unknown
    settings and invalid values are hard errors, bare invocation lists."""
    monkeypatch.setenv("DBTWIZ_SPARK_CONFIG_DIR", str(tmp_path))
    from dbtwiz_spark import userconfig
    from dbtwiz_spark.cli import main

    # update + persistence round-trip
    assert main(["config", "theme", "dark"]) == 0
    assert userconfig.load_user_config().theme == "dark"
    assert main(["config", "shuffle_partitions", "64"]) == 0
    cfg = userconfig.load_user_config()
    assert cfg.shuffle_partitions == 64 and cfg.theme == "dark"
    assert (tmp_path / "config.toml").exists()

    # read a single setting
    assert main(["config", "theme"]) == 0
    assert capsys.readouterr().out.strip().endswith("dark")

    # validation: unknown setting, bad value, bad type
    assert main(["config", "nope", "1"]) == 1
    assert main(["config", "theme", "neon"]) == 1
    assert main(["config", "log_debug", "maybe"]) == 1
    assert main(["config", "log_debug", "true"]) == 0
    assert userconfig.load_user_config().log_debug is True

    # bare listing shows every setting
    assert main(["config"]) == 0
    out = capsys.readouterr().out
    for name in userconfig.spec_names():
        assert name in out

    # corrupt file degrades to defaults (reference behavior), never crashes
    (tmp_path / "config.toml").write_text("not toml ][")
    assert userconfig.load_user_config().theme == "light"


def test_config_check_reports_all_problems(tmp_path, monkeypatch, capsys):
    """`config --check` is the strict loader (reference validate_configs):
    unlike normal loading, it surfaces TOML errors, unknown keys, and
    invalid values instead of degrading to defaults."""
    monkeypatch.setenv("DBTWIZ_SPARK_CONFIG_DIR", str(tmp_path))
    from dbtwiz_spark.cli import main

    assert main(["config", "--check"]) == 0  # no file: valid

    (tmp_path / "config.toml").write_text(
        'theme = "neon"\nmystery = 1\nshuffle_partitions = 0\n'
    )
    assert main(["config", "--check"]) == 1
    out = capsys.readouterr().out
    assert "mystery" in out and ("theme" in out or "shuffle" in out)

    (tmp_path / "config.toml").write_text("not toml ][")
    assert main(["config", "--check"]) == 1
    assert "invalid TOML" in capsys.readouterr().out

    (tmp_path / "config.toml").write_text('theme = "dark"\n')
    assert main(["config", "--check"]) == 0


def test_build_full_refresh_recreates_incremental(spark, tmp_path, capsys):
    """`build --full-refresh` (reference commands/build.py:116): the
    incremental table is dropped and recreated from this run's output
    alone, so rows outside the current interval disappear — the
    schema-change recovery dbt's flag provides."""
    import yaml

    proj = tmp_path / "proj"
    (proj / "models").mkdir(parents=True)
    src = spark.createDataFrame(
        [("2024-01-01", 1), ("2024-01-02", 2), ("2024-01-03", 3)],
        "partitiondate STRING, v INT",
    )
    src_path = str(tmp_path / "src")
    src.write.mode("overwrite").parquet(src_path)
    (proj / "sources.yml").write_text(
        yaml.safe_dump({"sources": [{"name": "src", "path": src_path}]})
    )
    (proj / "models" / "inc.sql").write_text(
        "SELECT partitiondate, v FROM {{ ref('src') }} "
        "WHERE partitiondate >= '{{ var(\"data_interval_start\") }}' "
        "AND partitiondate < '{{ var(\"data_interval_end\") }}'"
    )
    (proj / "models" / "inc.yml").write_text(
        yaml.safe_dump(
            {"materialized": "incremental",
             "incremental_strategy": "insert_overwrite",
             "partition_by": "partitiondate"}
        )
    )
    from dbtwiz_spark.cli import main

    wh_dir = str(tmp_path / "wh")
    base = ["build", "--project", str(proj), "--warehouse", wh_dir,
            "--select", "inc"]
    assert main(base + ["--start", "2024-01-01", "--end", "2024-01-03"]) == 0
    assert main(base + ["--start", "2024-01-03", "--end", "2024-01-04"]) == 0
    from dbtwiz_spark.materialize import Warehouse

    wh = Warehouse(spark, wh_dir)
    assert wh.read("inc").count() == 3  # incremental kept days 1-2

    # full refresh with only day 3 in the interval -> table shrinks to 1 row
    assert main(base + ["--start", "2024-01-03", "--end", "2024-01-04",
                        "--full-refresh"]) == 0
    assert wh.read("inc").count() == 1


def test_full_refresh_registers_view_for_downstream(spark, tmp_path):
    """Regression: the full-refresh path must register the rebuilt table as
    a temp view like every other success path, or a downstream model in
    the same run fails with TABLE_OR_VIEW_NOT_FOUND."""
    import yaml

    proj = tmp_path / "proj"
    (proj / "models").mkdir(parents=True)
    src = spark.createDataFrame(
        [("2024-01-01", 1), ("2024-01-02", 2)], "partitiondate STRING, v INT"
    )
    src_path = str(tmp_path / "src")
    src.write.mode("overwrite").parquet(src_path)
    (proj / "sources.yml").write_text(
        yaml.safe_dump({"sources": [{"name": "src", "path": src_path}]})
    )
    (proj / "models" / "inc.sql").write_text(
        "SELECT partitiondate, v FROM {{ ref('src') }} "
        "WHERE partitiondate >= '{{ var(\"data_interval_start\") }}' "
        "AND partitiondate < '{{ var(\"data_interval_end\") }}'"
    )
    (proj / "models" / "inc.yml").write_text(
        yaml.safe_dump(
            {"materialized": "incremental",
             "incremental_strategy": "insert_overwrite",
             "partition_by": "partitiondate",
             "snapshot": False}
        )
    )
    (proj / "models" / "child.sql").write_text(
        "SELECT COUNT(*) AS n FROM {{ ref('inc') }}"
    )
    (proj / "models" / "child.yml").write_text(
        yaml.safe_dump({"materialized": "table"})
    )
    from dbtwiz_spark.cli import main

    wh_dir = str(tmp_path / "wh")
    rc = main(["build", "--project", str(proj), "--warehouse", wh_dir,
               "--select", "inc child", "--start", "2024-01-01",
               "--end", "2024-01-03", "--full-refresh"])
    assert rc == 0
    from dbtwiz_spark.materialize import Warehouse

    wh = Warehouse(spark, wh_dir)
    assert wh.read("child").collect()[0].n == 2
    # snapshot: false honored on the full-refresh rewrite too
    assert not (wh.path("inc") / "_snapshots").exists()


def test_upstream_flag_marks_every_comma_term():
    """Regression: --upstream/--downstream must tokenize commas like the
    selector grammar, not whitespace only — tested against the SHIPPED
    transform, not a copy."""
    from dbtwiz_spark.cli import _apply_graph_flags

    assert _apply_graph_flags("a,b c", True, False) == "+a +b +c"
    assert _apply_graph_flags("a,b", False, True) == "a+ b+"
    assert _apply_graph_flags("+a,b", True, True) == "+a+ +b+"
    assert _apply_graph_flags("tag:x,m", True, False) == "+tag:x +m"
    assert _apply_graph_flags("a,b", False, False) == "a,b"


def test_session_default_shuffle_partitions_from_config(tmp_path, monkeypatch):
    """session._default_shuffle_partitions: env var wins, else the user
    config's shuffle_partitions, else 32."""
    from dbtwiz_spark.session import _default_shuffle_partitions

    monkeypatch.setenv("DBTWIZ_SPARK_CONFIG_DIR", str(tmp_path))
    monkeypatch.delenv("SPARK_GRAFT_SHUFFLE", raising=False)
    assert _default_shuffle_partitions() == 32
    (tmp_path / "config.toml").write_text("shuffle_partitions = 7\n")
    assert _default_shuffle_partitions() == 7
    monkeypatch.setenv("SPARK_GRAFT_SHUFFLE", "64")
    assert _default_shuffle_partitions() == 64


def _governance_project(tmp_path):
    """Project with a declared governance vocabulary (groups file +
    project vars, the reference's two sources: core/project.py Group :9-48
    and teams()/service_consumers()/access_policies() :177-200)."""
    import yaml

    proj = tmp_path / "govproj"
    (proj / "models").mkdir(parents=True)
    (proj / "models" / "model_groups.yml").write_text(yaml.safe_dump({
        "groups": [
            {"name": "finance", "config": {"meta": {"description": "Finance marts"}}},
            {"name": "growth"},
        ]
    }))
    (proj / "project.yml").write_text(yaml.safe_dump({
        "name": "gov",
        "vars": {
            "teams": {"team-data": {"description": "Data platform"}},
            "service-consumers": {"svc-api": {"description": "API backend"}},
            "access-policies": {"restricted": {"description": "Need-to-know"}},
        },
    }))
    return proj


def test_model_create_governance_roundtrip(tmp_path, capsys):
    import yaml

    proj = _governance_project(tmp_path)
    assert main([
        "model", "create", "--project", str(proj), "--name", "mrt_fin__rev",
        "--materialized", "table", "--group", "finance", "--access", "public",
        "--team", "team-data", "--service-consumer", "svc-api",
        "--access-policy", "restricted", "--frequency", "daily",
    ]) == 0
    capsys.readouterr()
    cfg = yaml.safe_load((proj / "models" / "mrt_fin__rev.yml").read_text())
    assert cfg["access"] == "public" and cfg["group"] == "finance"
    assert cfg["meta"] == {
        "teams": ["team-data"],
        "access-policy": "restricted",
        "service-consumers": ["svc-api"],
    }
    assert cfg["tags"] == ["daily"]
    # the sidecar round-trips through the manifest loader
    from dbtwiz_spark.project import load_project

    manifest, _ = load_project(proj)
    m = manifest.models["mrt_fin__rev"]
    assert m.group == "finance" and m.access == "public"
    assert m.meta["teams"] == ["team-data"]
    # and `model validate` accepts it (governance clean; table not built,
    # so the column check is skipped)
    wh = tmp_path / "wh"
    assert main(["model", "validate", "--project", str(proj),
                 "--warehouse", str(wh)]) == 0


def test_model_create_rejects_undeclared_governance(tmp_path, capsys):
    proj = _governance_project(tmp_path)
    assert main([
        "model", "create", "--project", str(proj), "--name", "mrt_bad",
        "--group", "nonexistent",
    ]) == 1
    out = capsys.readouterr().out
    assert "group 'nonexistent' not declared" in out
    assert not (proj / "models" / "mrt_bad.sql").exists()
    assert main([
        "model", "create", "--project", str(proj), "--name", "mrt_bad2",
        "--team", "team-unknown",
    ]) == 1
    assert "team 'team-unknown' not declared" in capsys.readouterr().out


def test_model_validate_flags_hand_edited_governance(tmp_path, capsys):
    import yaml

    proj = _governance_project(tmp_path)
    (proj / "models" / "mrt_x.sql").write_text("SELECT 1 AS a\n")
    (proj / "models" / "mrt_x.yml").write_text(yaml.safe_dump({
        "materialized": "table",
        "group": "typo_group",
        "access": "internal",  # not a valid access level
        "meta": {"teams": ["team-data"]},
    }))
    wh = tmp_path / "wh"
    assert main(["model", "validate", "--project", str(proj),
                 "--warehouse", str(wh)]) == 1
    out = capsys.readouterr().out
    assert "GOVERNANCE mrt_x" in out
    assert "group 'typo_group'" in out and "access 'internal'" in out


def test_governance_wizard_scripted_io(tmp_path):
    """The TTY wizard path with injected IO: missing values are prompted
    (numbered select), provided-but-invalid values are re-prompted, and
    valid flag values pass through untouched."""
    import argparse

    from dbtwiz_spark.cli import _governance_wizard
    from dbtwiz_spark.project import load_governance

    gov = load_governance(_governance_project(tmp_path))
    answers = iter(["1", "3", "team-data"])  # finance, public, team by name
    args = argparse.Namespace(group=None, access=None, team=[], quick=False)
    _governance_wizard(args, gov, input_fn=lambda _: next(answers),
                       print_fn=lambda _: None)
    assert args.group == "finance"
    assert args.access == "public"
    assert args.team == ["team-data"]
    # a valid flag value short-circuits its prompt
    answers = iter(["2"])  # only the access prompt fires
    args = argparse.Namespace(group="growth", access=None, team=["team-data"],
                              quick=False)
    _governance_wizard(args, gov, input_fn=lambda _: next(answers),
                       print_fn=lambda _: None)
    assert args.group == "growth" and args.access == "protected"
    assert args.team == ["team-data"]
    # --quick never prompts (input_fn would raise StopIteration)
    args = argparse.Namespace(group=None, access=None, team=[], quick=True)
    _governance_wizard(args, gov, input_fn=lambda _: (_ for _ in ()).throw(
        AssertionError("prompted under --quick")), print_fn=lambda _: None)
    assert args.group is None and args.access is None


def test_select_from_choices_io():
    from dbtwiz_spark.picker import select_from_choices

    choices = {"a": "first", "b": "second"}
    feed = iter(["zzz", "2"])  # invalid then numeric pick
    got = select_from_choices("pick", choices, input_fn=lambda _: next(feed),
                              print_fn=lambda _: None)
    assert got == "b"
    feed = iter([""])
    assert select_from_choices("pick", choices, allow_none=True,
                               input_fn=lambda _: next(feed),
                               print_fn=lambda _: None) is None


def test_ui_validators_mirror_reference_rules():
    """The identifier/dataset/table/description validators replicate the
    reference's questionary validators (dbtwiz/ui/interact.py:8-49):
    True on a valid value, an error STRING otherwise — including the
    INFORMATION_SCHEMA dataset exception and its uppercase table rule."""
    from dbtwiz_spark.picker import (
        dataset_name_validator,
        description_validator,
        name_validator,
        table_name_validator,
    )

    v = name_validator()
    for good in ("a1", "raw_events", "stg_sales__rev", "x9"):
        assert v(good) is True, good
    for bad in ("Raw", "1x", "x", "ends_", "has space", "", "a-b"):
        assert isinstance(v(bad), str), bad
    dv = dataset_name_validator()
    assert dv("INFORMATION_SCHEMA") is True
    assert dv("analytics") is True
    assert isinstance(dv("Analytics"), str)
    tv = table_name_validator("INFORMATION_SCHEMA")
    assert tv("TABLES") is True and tv("COLUMN_FIELD_PATHS") is True
    assert isinstance(tv("tables"), str)
    tv = table_name_validator("analytics")
    assert tv("orders") is True and isinstance(tv("ORDERS"), str)
    desc = description_validator()
    assert desc("Revenue per nation") is True
    assert isinstance(desc(" leading space"), str)


def test_input_text_validates_and_loops():
    from dbtwiz_spark.picker import input_text, name_validator

    shown = []
    feed = iter(["Bad Name", "", "good_name"])
    got = input_text("name it", validate=name_validator(),
                     input_fn=lambda _: next(feed), print_fn=shown.append)
    assert got == "good_name"
    assert any("lowercase" in s for s in shown)  # validator message shown
    # the validator sees the RAW input (stripping first would make the
    # description rule's no-leading-whitespace check unfalsifiable)
    from dbtwiz_spark.picker import description_validator

    feed = iter([" leading space", "Fine description"])
    got = input_text("describe", validate=description_validator(),
                     input_fn=lambda _: next(feed), print_fn=shown.append)
    assert got == "Fine description"
    assert any("must not start with a space" in s for s in shown)
    # blank accepted only with allow_blank
    feed = iter([""])
    assert input_text("d", allow_blank=True,
                      input_fn=lambda _: next(feed),
                      print_fn=shown.append) == ""
    # EOF aborts with None instead of hanging or dying
    def _eof(_):
        raise EOFError

    assert input_text("q", input_fn=_eof, print_fn=shown.append) is None


def test_confirm_defaults_and_aborts():
    from dbtwiz_spark.picker import confirm

    shown = []
    assert confirm("go", input_fn=lambda _: "", print_fn=shown.append)
    assert not confirm("go", default=False,
                       input_fn=lambda _: "", print_fn=shown.append)
    feed = iter(["maybe", "n"])
    assert not confirm("go", input_fn=lambda _: next(feed),
                       print_fn=shown.append)
    assert any("y or n" in s for s in shown)

    def _eof(_):
        raise EOFError

    assert confirm("go", input_fn=_eof, print_fn=shown.append) is False


def test_multiselect_na_semantics():
    """Reference parity (ui/interact.py:89-127): at least one pick is
    required, 'n/a' is exclusive, and choosing it returns None."""
    from dbtwiz_spark.picker import multiselect_from_choices

    choices = {"svc-a": "A", "svc-b": "B", "svc-c": ""}
    shown = []
    feed = iter(["", "2 4, svc-a"])  # empty -> re-prompt; then picks
    got = multiselect_from_choices("pick", choices, allow_none=True,
                                   input_fn=lambda _: next(feed),
                                   print_fn=shown.append)
    # rows are [n/a, svc-a, svc-b, svc-c]: 2 -> svc-a, 4 -> svc-c; the
    # duplicate name token dedupes
    assert got == ["svc-a", "svc-c"]
    assert any("at least one" in s for s in shown)
    feed = iter(["1 2", "1"])  # n/a with another -> rejected; n/a alone
    got = multiselect_from_choices("pick", choices, allow_none=True,
                                   input_fn=lambda _: next(feed),
                                   print_fn=shown.append)
    assert got is None
    assert any("cannot be selected along" in s for s in shown)
    feed = iter(["2"])  # without allow_none rows are just the names
    got = multiselect_from_choices("pick", choices,
                                   input_fn=lambda _: next(feed),
                                   print_fn=shown.append)
    assert got == ["svc-b"]


def test_governance_wizard_service_consumers_and_policy(tmp_path):
    """The wizard multiselects service consumers (n/a-aware) and selects
    an access policy when the project declares those vocabularies and no
    flag value was given; Namespaces without the fields skip both."""
    import argparse

    from dbtwiz_spark.cli import _governance_wizard
    from dbtwiz_spark.project import load_governance

    proj = _governance_project(tmp_path)
    gov = load_governance(proj)
    assert gov.service_consumers and gov.access_policies
    feed = iter(["2", "1"])  # svc rows are [n/a, svc-api]; policy 1
    args = argparse.Namespace(
        group="finance", access="public", team=["team-data"], quick=False,
        service_consumer=[], access_policy=None,
    )
    _governance_wizard(args, gov, input_fn=lambda _: next(feed),
                       print_fn=lambda _: None)
    assert args.service_consumer == ["svc-api"]
    assert args.access_policy == "restricted"
    # n/a on the consumers prompt leaves the list empty
    feed = iter(["1", ""])  # n/a; then empty policy (allow_none)
    args = argparse.Namespace(
        group="finance", access="public", team=["team-data"], quick=False,
        service_consumer=[], access_policy=None,
    )
    _governance_wizard(args, gov, input_fn=lambda _: next(feed),
                       print_fn=lambda _: None)
    assert args.service_consumer == []
    assert args.access_policy is None


def test_multiselect_rejects_unrecognized_tokens():
    """A typo among valid tokens must re-prompt naming it, not silently
    drop it from the selection (r14 ADVICE: 'svc-api svc-typo' used to
    accept svc-api and discard the typo, omitting a misspelled service
    consumer from the model's governance with no warning)."""
    from dbtwiz_spark.picker import multiselect_from_choices

    choices = {"svc-api": "API", "svc-batch": "Batch"}
    shown = []
    feed = iter(["svc-api svc-typo", "svc-api"])
    got = multiselect_from_choices("pick", choices,
                                   input_fn=lambda _: next(feed),
                                   print_fn=shown.append)
    assert got == ["svc-api"]
    assert any("svc-typo" in s and "unrecognized" in s for s in shown)
    # all-invalid input still re-prompts (the pre-fix behavior), now with
    # the naming message instead of the generic at-least-one one
    feed = iter(["bogus", "2"])
    got = multiselect_from_choices("pick", choices,
                                   input_fn=lambda _: next(feed),
                                   print_fn=shown.append)
    assert got == ["svc-batch"]


def test_model_create_nontty_consumes_no_stdin(tmp_path, monkeypatch, capsys):
    """Non-TTY `model create` with a DECLARED service-consumer vocabulary
    and no flag value must consume no stdin (r14 verdict item 3): the
    wizard's top gate returns flag-driven, and the multiselect carries
    its own isatty guard so a scripted pipeline can never lose a line."""
    import io
    import sys as _sys

    proj = _governance_project(tmp_path)

    class _TrippedStdin(io.StringIO):
        def isatty(self):
            return False

        def readline(self, *a):  # pragma: no cover - the failure mode
            raise AssertionError("wizard consumed a stdin line")

        def read(self, *a):  # pragma: no cover - the failure mode
            raise AssertionError("wizard consumed stdin")

    monkeypatch.setattr(_sys, "stdin", _TrippedStdin("not for you\n"))
    monkeypatch.setattr("builtins.input", _sys.stdin.readline)
    assert main([
        "model", "create", "--project", str(proj), "--name", "mrt_fin__npt",
        "--materialized", "table", "--group", "finance", "--access",
        "public", "--team", "team-data", "--frequency", "daily",
    ]) == 0
    capsys.readouterr()
    # flag-driven values kept; the undeclared consumer list stays empty
    import yaml

    cfg = yaml.safe_load((proj / "models" / "mrt_fin__npt.yml").read_text())
    assert cfg["group"] == "finance"
    assert "service-consumers" not in (cfg.get("meta") or {})


def test_governance_wizard_multiselect_gate_with_injected_io(tmp_path):
    """The multiselect's own gate must NOT suppress injected-IO runs
    (tests and embedding callers): injected input_fn still prompts even
    when the process stdin is not a TTY."""
    import argparse

    from dbtwiz_spark.cli import _governance_wizard
    from dbtwiz_spark.project import load_governance

    gov = load_governance(_governance_project(tmp_path))
    feed = iter(["2", "1"])  # svc rows are [n/a, svc-api]; policy 1
    args = argparse.Namespace(
        group="finance", access="public", team=["team-data"], quick=False,
        service_consumer=[], access_policy=None,
    )
    _governance_wizard(args, gov, input_fn=lambda _: next(feed),
                       print_fn=lambda _: None)
    assert args.service_consumer == ["svc-api"]


def test_source_create_rejects_invalid_name(spark, tmp_path, capsys):
    from dbtwiz_spark.cli import main

    proj = tmp_path / "proj"
    proj.mkdir()
    path = str(tmp_path / "t.parquet")
    spark.range(3).write.parquet(path)
    rc = main(["source", "create", "--project", str(proj),
               "--name", "Bad-Name", "--path", path])
    assert rc == 1
    assert "invalid source name" in capsys.readouterr().out
    assert not (proj / "sources.yml").exists()


def test_config_rejects_bool_for_int_and_nonstring_fields(tmp_path, monkeypatch):
    """bool is an int subclass: `shuffle_partitions = true` parsed as True
    must fail validation instead of silently meaning ONE shuffle
    partition; string fields likewise reject non-strings."""
    monkeypatch.setenv("DBTWIZ_SPARK_CONFIG_DIR", str(tmp_path))
    from dbtwiz_spark import userconfig

    (tmp_path / "config.toml").write_text("shuffle_partitions = true\n")
    # load degrades to defaults on an invalid file — never 1 partition
    assert userconfig.load_user_config().shuffle_partitions == 32
    with pytest.raises(ValueError, match="shuffle_partitions"):
        userconfig.UserConfig(shuffle_partitions=True).validate()
    with pytest.raises(ValueError, match="editor_command must be a string"):
        userconfig.UserConfig(editor_command=3).validate()


def test_build_last_replays_graph_flags(spark, project, wh_dir, capsys):
    """`build --select X -u` then `build --last` must replay the upstream
    expansion (and full_refresh), not just the bare selector."""
    import json as _json

    rc = main(["build", "--project", str(project), "--warehouse", wh_dir,
               "--select", "mrt_nation_balance", "-u"])
    out = capsys.readouterr().out
    assert rc == 0 and "stg_customer" in out and "mrt_nation_balance" in out
    saved = _json.loads(
        (project / ".dbtwiz_spark" / "last_select.json").read_text()
    )
    assert saved["upstream"] is True and saved["full_refresh"] is False
    rc = main(["build", "--project", str(project), "--warehouse", wh_dir,
               "--last"])
    out = capsys.readouterr().out
    assert rc == 0, out
    # upstream expansion replayed: the parent rebuilt too
    assert "stg_customer" in out and "mrt_nation_balance" in out


def test_model_create_layered_layout(tmp_path, capsys):
    """--layer/--domain parity with the reference layout
    (models/<layer_folder>/<domain>/<abbr>_<domain>__<identifier>):
    auto-prefixing, staging's forced view materialization, and the
    validate-side naming-convention check."""
    import yaml

    proj = tmp_path / "layered"
    (proj / "models").mkdir(parents=True)
    assert main(["model", "create", "--project", str(proj), "--name", "rev",
                 "--layer", "marts", "--domain", "finance",
                 "--materialized", "table"]) == 0
    capsys.readouterr()
    sql = proj / "models" / "3_marts" / "finance" / "mrt_finance__rev.sql"
    assert sql.exists() and sql.with_suffix(".yml").exists()
    # staging forces view materialization
    assert main(["model", "create", "--project", str(proj), "--name", "raw",
                 "--layer", "staging", "--domain", "crm",
                 "--materialized", "incremental"]) == 0
    capsys.readouterr()
    stg = proj / "models" / "1_staging" / "crm" / "stg_crm__raw.yml"
    assert yaml.safe_load(stg.read_text())["materialized"] == "view"
    # a pre-prefixed name passes through without double-prefixing
    assert main(["model", "create", "--project", str(proj),
                 "--name", "mrt_finance__cost", "--layer", "marts",
                 "--domain", "finance"]) == 0
    capsys.readouterr()
    assert (proj / "models" / "3_marts" / "finance"
            / "mrt_finance__cost.sql").exists()
    # unknown layer is a hard error; --layer without --domain too
    assert main(["model", "create", "--project", str(proj), "--name", "x",
                 "--layer", "gold", "--domain", "d"]) == 1
    assert main(["model", "create", "--project", str(proj), "--name", "x",
                 "--layer", "marts"]) == 1
    capsys.readouterr()
    # the manifest loads the nested models under their full names
    from dbtwiz_spark.project import load_project, validate_name_conventions

    manifest, _ = load_project(proj)
    assert "mrt_finance__rev" in manifest.models
    assert "stg_crm__raw" in manifest.models
    assert validate_name_conventions(proj) == []
    # a hand-placed misnamed model is flagged by model validate
    bad = proj / "models" / "3_marts" / "finance" / "orders_summary.sql"
    bad.write_text("SELECT 1 AS a\n")
    assert main(["model", "validate", "--project", str(proj),
                 "--warehouse", str(tmp_path / "wh")]) == 1
    out = capsys.readouterr().out
    assert "NAMING orders_summary" in out and "mrt_finance__" in out


def test_layer_overrides_from_project_yml(tmp_path):
    import yaml

    from dbtwiz_spark.project import load_layers

    proj = tmp_path / "ovr"
    proj.mkdir()
    (proj / "project.yml").write_text(yaml.safe_dump({
        "name": "o",
        "layers": {"gold": {"folder": "9_gold", "abbreviation": "gld"}},
    }))
    assert load_layers(proj) == {"gold": ("9_gold", "gld")}
    # no override -> reference defaults
    assert load_layers(tmp_path)["marts"] == ("3_marts", "mrt")


def test_model_convert_rewrites_raw_refs(tmp_path, capsys):
    """`model convert`: raw FROM/JOIN table names resolve against the
    manifest into ref()/source() calls; qualified names resolve on their
    last component; unknowns are reported unresolved (exit 1) and the
    build runs cleanly on the converted SQL."""
    proj = tmp_path / "conv"
    (proj / "models").mkdir(parents=True)
    (proj / "sources.yml").write_text(
        f"sources:\n  - name: customer\n    path: {SF_DIR}/customer.parquet\n"
    )
    (proj / "models" / "stg_cust.sql").write_text(
        "SELECT c_custkey, c_acctbal FROM {{ source('raw', 'customer') }}\n"
    )
    (proj / "models" / "mrt_bal.sql").write_text(
        "SELECT a.c_custkey, a.c_acctbal\n"
        "FROM stg_cust a\n"
        "JOIN warehouse.stg_cust b ON a.c_custkey = b.c_custkey\n"
    )
    assert main(["model", "convert", "mrt_bal", "--project", str(proj)]) == 0
    out = capsys.readouterr().out
    assert "replaced stg_cust" in out and "replaced warehouse.stg_cust" in out
    sql = (proj / "models" / "mrt_bal.sql").read_text()
    assert sql.count("{{ ref('stg_cust') }}") == 2
    # a raw source reference converts to source(); already-converted SQL
    # is a no-op
    (proj / "models" / "stg_two.sql").write_text(
        "SELECT * FROM customer\n"
    )
    assert main(["model", "convert", "stg_two", "--project", str(proj)]) == 0
    assert "{{ source('raw', 'customer') }}" in (
        proj / "models" / "stg_two.sql"
    ).read_text()
    capsys.readouterr()
    assert main(["model", "convert", "stg_two", "--project", str(proj)]) == 0
    assert "references ok" in capsys.readouterr().out
    # unresolved qualified names exit 1 and are reported
    (proj / "models" / "mrt_bad.sql").write_text(
        "SELECT * FROM prod.unknown.thing\n"
    )
    assert main(["model", "convert", "mrt_bad", "--project", str(proj)]) == 1
    assert "unresolved: prod.unknown.thing" in capsys.readouterr().out
    # the converted project loads with the right DAG
    from dbtwiz_spark.project import load_project

    manifest, _ = load_project(proj)
    assert manifest.parent_map["mrt_bal"] == {"stg_cust"}


def test_model_validate_fix_preserves_governance_failure(spark, tmp_path, capsys):
    """Review fix: --fix repairing column drift on one model must not
    reset the exit code earned by another model's governance error."""
    import yaml

    proj = _governance_project(tmp_path)
    wh_dir = tmp_path / "whfix"
    from dbtwiz_spark.materialize import Warehouse

    wh = Warehouse(spark, str(wh_dir))
    # model A: governance error only
    (proj / "models" / "mrt_gov.sql").write_text("SELECT 1 AS a\n")
    (proj / "models" / "mrt_gov.yml").write_text(
        yaml.safe_dump({"materialized": "table", "group": "nope"})
    )
    # model B: built table with drift the --fix will repair
    (proj / "models" / "mrt_drift.sql").write_text("SELECT 1 AS a, 2 AS b\n")
    (proj / "models" / "mrt_drift.yml").write_text(
        yaml.safe_dump({"materialized": "table",
                        "columns": [{"name": "a", "data_type": "INT64"}]})
    )
    wh.write_table("mrt_drift", spark.sql("SELECT 1 AS a, 2 AS b"),
                   snapshot=False)
    assert main(["model", "validate", "--project", str(proj),
                 "--warehouse", str(wh_dir), "--fix"]) == 1
    out = capsys.readouterr().out
    assert "GOVERNANCE mrt_gov" in out and "fixed mrt_drift.yml" in out


def test_model_create_failed_validation_leaves_no_empty_dirs(tmp_path, capsys):
    """Review fix: layer/domain directories are created only after
    validation passes."""
    proj = _governance_project(tmp_path)
    assert main(["model", "create", "--project", str(proj), "--name", "x",
                 "--layer", "marts", "--domain", "newdom",
                 "--group", "nonexistent"]) == 1
    capsys.readouterr()
    assert not (proj / "models" / "3_marts").exists()


def test_governance_wizard_keeps_full_team_list(tmp_path):
    """Review fix: a fully valid repeatable --team list passes through the
    wizard intact (never collapsed to its first element)."""
    import argparse
    import yaml

    from dbtwiz_spark.cli import _governance_wizard
    from dbtwiz_spark.project import load_governance

    proj = _governance_project(tmp_path)
    # declare a second team so a 2-team list is expressible
    cfgd = yaml.safe_load((proj / "project.yml").read_text())
    cfgd["vars"]["teams"]["team-ml"] = {"description": "ML"}
    (proj / "project.yml").write_text(yaml.safe_dump(cfgd))
    gov = load_governance(proj)
    args = argparse.Namespace(group="growth", access="private",
                              team=["team-data", "team-ml"], quick=False)
    _governance_wizard(args, gov,
                       input_fn=lambda _: (_ for _ in ()).throw(
                           AssertionError("prompted despite valid flags")),
                       print_fn=lambda _: None)
    assert args.team == ["team-data", "team-ml"]


def test_model_convert_skips_cte_names_and_handles_qualified_forms(tmp_path, capsys):
    """Review fixes: FROM references to names the SQL defines as CTEs are
    never rewritten (import-CTE shadowing), and backticked / hyphenated
    qualified references resolve on their last component or report
    unresolved instead of being silently skipped."""
    proj = tmp_path / "conv2"
    (proj / "models").mkdir(parents=True)
    (proj / "models" / "orders.sql").write_text("SELECT 1 AS x\n")
    (proj / "models" / "stg_a.sql").write_text("SELECT 1 AS x\n")
    sql = (
        "WITH orders AS (SELECT * FROM {{ ref('stg_a') }} WHERE x > 0),\n"
        "     extra AS (SELECT * FROM orders)\n"
        "SELECT * FROM extra\n"
        "JOIN `my-proj.ds.stg_a` USING (x)\n"
        "JOIN my-proj.ds.unknown_tbl USING (x)\n"
    )
    (proj / "models" / "mrt_c.sql").write_text(sql)
    assert main(["model", "convert", "mrt_c", "--project", str(proj)]) == 1
    out = capsys.readouterr().out
    new_sql = (proj / "models" / "mrt_c.sql").read_text()
    # CTE names untouched even though a model named 'orders' exists
    assert "FROM orders)" in new_sql and "FROM extra" in new_sql
    # backticked qualified ref resolved on its leaf
    assert "JOIN {{ ref('stg_a') }} USING (x)" in new_sql
    # hyphenated unknown reported unresolved, file unchanged there
    assert "unresolved: my-proj.ds.unknown_tbl" in out
    assert "my-proj.ds.unknown_tbl" in new_sql


def test_governance_inheritance_from_models_hierarchy(tmp_path, capsys):
    """project.yml models-hierarchy governance (reference
    core/project.py:213-249): a layered model without its own group/access
    inherits the project → layer → domain values (deeper overrides), an
    explicit sidecar value wins, and model create skips prompting and
    writes NO key for inherited fields."""
    import yaml

    proj = _governance_project(tmp_path)
    cfgd = yaml.safe_load((proj / "project.yml").read_text())
    cfgd["models"] = {
        "gov": {
            "+group": "growth",
            "3_marts": {
                "+access": "protected",
                "finance": {"+group": "finance"},
            },
        }
    }
    (proj / "project.yml").write_text(yaml.safe_dump(cfgd))
    # create a layered model with no governance flags — inherits, no keys
    assert main(["model", "create", "--project", str(proj), "--name", "rev",
                 "--layer", "marts", "--domain", "finance",
                 "--materialized", "table"]) == 0
    out = capsys.readouterr().out
    assert "inheriting group 'finance'" in out
    assert "inheriting access 'protected'" in out
    side = yaml.safe_load(
        (proj / "models" / "3_marts" / "finance" / "mrt_finance__rev.yml")
        .read_text()
    )
    assert "group" not in side and "access" not in side
    # the manifest resolves the EFFECTIVE config through the hierarchy
    from dbtwiz_spark.project import load_project

    manifest, _ = load_project(proj)
    m = manifest.models["mrt_finance__rev"]
    assert m.group == "finance" and m.access == "protected"
    # a different domain falls back to the layer/project levels
    (proj / "models" / "3_marts" / "ads").mkdir(parents=True)
    (proj / "models" / "3_marts" / "ads" / "mrt_ads__x.sql").write_text(
        "SELECT 1 AS a\n"
    )
    manifest, _ = load_project(proj)
    m2 = manifest.models["mrt_ads__x"]
    assert m2.group == "growth" and m2.access == "protected"
    # explicit sidecar value beats inheritance
    (proj / "models" / "3_marts" / "ads" / "mrt_ads__x.yml").write_text(
        yaml.safe_dump({"materialized": "table", "group": "finance"})
    )
    manifest, _ = load_project(proj)
    assert manifest.models["mrt_ads__x"].group == "finance"


def test_example_project_end_to_end(spark, tmp_path, capsys):
    """examples/demo_project is a living walkthrough: it must build, pass
    its data tests, resolve inherited governance, and validate clean —
    copied to a tmp dir so the run never dirties the repo tree."""
    import shutil

    from pathlib import Path as _P

    src = _P(__file__).resolve().parent.parent / "examples" / "demo_project"
    proj = tmp_path / "demo"
    shutil.copytree(src, proj)
    wh = str(tmp_path / "wh")
    assert main(["build", "--project", str(proj), "--warehouse", wh,
                 "--select", "*"]) == 0
    out = capsys.readouterr().out
    assert "mrt_sales__customer_revenue" in out
    assert main(["test", "--project", str(proj), "--warehouse", wh,
                 "--select", "mrt_sales__customer_revenue"]) == 0
    test_out = capsys.readouterr().out
    # the example exercises the singular-test surface too
    assert "expression revenue >= 0" in test_out
    assert "orders_imply_revenue" in test_out
    assert main(["model", "validate", "--project", str(proj),
                 "--warehouse", wh]) == 0
    capsys.readouterr()
    # inherited governance resolves through the models hierarchy
    from dbtwiz_spark.project import load_project

    manifest, _ = load_project(proj)
    m = manifest.models["mrt_sales__customer_revenue"]
    assert m.group == "sales" and m.access == "protected"
    # the built mart has real rows
    from dbtwiz_spark.materialize import Warehouse

    built = Warehouse(spark, wh).read("mrt_sales__customer_revenue")
    assert built.count() > 0


def test_explain_audit_flags_new_red_flags(spark, tmp_path, capsys):
    """The scale audit flags an unpartitioned window (single-task sort)
    and stays quiet on clean top-k / aggregate models; built-in-only
    models get no Python-UDF warning."""
    proj = tmp_path / "exp"
    (proj / "models").mkdir(parents=True)
    (proj / "sources.yml").write_text(
        f"sources:\n  - name: customer\n    path: {SF_DIR}/customer.parquet\n"
    )
    (proj / "models" / "m_gwin.sql").write_text(
        "SELECT c_custkey, ROW_NUMBER() OVER (ORDER BY c_acctbal) AS rn "
        "FROM {{ source('raw', 'customer') }}\n"
    )
    (proj / "models" / "m_agg.sql").write_text(
        "SELECT c_mktsegment, COUNT(*) AS n "
        "FROM {{ source('raw', 'customer') }} GROUP BY c_mktsegment\n"
    )
    wh = str(tmp_path / "wh")
    assert main(["explain", "m_gwin", "--project", str(proj),
                 "--warehouse", wh]) == 0
    out = capsys.readouterr().out
    assert "window without partitioning" in out
    assert "Python UDF" not in out
    assert main(["explain", "m_agg", "--project", str(proj),
                 "--warehouse", wh]) == 0
    out = capsys.readouterr().out
    assert "WARNING" not in out  # clean map-side-combined aggregate
    assert "partial" not in out or "without a map-side" not in out


def test_last_replay_flags_are_not_sticky(spark, project, wh_dir, capsys):
    """Review fix: flags passed alongside --last apply to that run only —
    the saved state stays the last EXPLICIT invocation."""
    import json as _json

    assert main(["build", "--project", str(project), "--warehouse", wh_dir,
                 "--select", "stg_customer"]) == 0
    capsys.readouterr()
    assert main(["build", "--project", str(project), "--warehouse", wh_dir,
                 "--last", "--full-refresh"]) == 0
    capsys.readouterr()
    saved = _json.loads(
        (project / ".dbtwiz_spark" / "last_select.json").read_text()
    )
    assert saved["full_refresh"] is False  # the one-off flag did not stick
    assert saved["select"] == "stg_customer"


def test_validate_naming_scoped_to_select(spark, tmp_path, capsys):
    """Review fix: a legacy misnamed model outside --select must not fail
    a scoped validate."""
    import yaml

    proj = _governance_project(tmp_path)
    good = proj / "models" / "3_marts" / "finance"
    good.mkdir(parents=True)
    (good / "mrt_finance__ok.sql").write_text("SELECT 1 AS a\n")
    (good / "mrt_finance__ok.yml").write_text(
        yaml.safe_dump({"materialized": "table"})
    )
    (good / "legacy_badname.sql").write_text("SELECT 1 AS a\n")
    wh = str(tmp_path / "wh")
    assert main(["model", "validate", "--project", str(proj),
                 "--warehouse", wh, "--select", "mrt_finance__ok"]) == 0
    capsys.readouterr()
    # unscoped validate still catches it
    assert main(["model", "validate", "--project", str(proj),
                 "--warehouse", wh]) == 1
    assert "NAMING legacy_badname" in capsys.readouterr().out


def test_governance_wizard_replaces_only_invalid_teams(tmp_path):
    """Review fix: valid --team entries survive; each invalid one gets its
    own replacement prompt (empty input drops it)."""
    import argparse
    import yaml

    from dbtwiz_spark.cli import _governance_wizard
    from dbtwiz_spark.project import load_governance

    proj = _governance_project(tmp_path)
    cfgd = yaml.safe_load((proj / "project.yml").read_text())
    cfgd["vars"]["teams"]["team-ml"] = {"description": "ML"}
    (proj / "project.yml").write_text(yaml.safe_dump(cfgd))
    gov = load_governance(proj)
    args = argparse.Namespace(group="growth", access="private",
                              team=["team-data", "typo"], quick=False)
    feed = iter(["team-ml"])  # replacement for the one invalid entry
    _governance_wizard(args, gov, input_fn=lambda _: next(feed),
                       print_fn=lambda _: None)
    assert args.team == ["team-data", "team-ml"]
    # empty input drops the invalid entry, keeps the valid ones
    args = argparse.Namespace(group="growth", access="private",
                              team=["team-data", "typo"], quick=False)
    feed = iter([""])
    _governance_wizard(args, gov, input_fn=lambda _: next(feed),
                       print_fn=lambda _: None)
    assert args.team == ["team-data"]


def test_model_convert_skips_comments_and_compact_ctes(tmp_path, capsys):
    """Review fixes: commented-out FROM lines are never rewritten (no
    false DAG edges) and a CTE declared without whitespace after the comma
    still shadows a same-named model."""
    proj = tmp_path / "conv3"
    (proj / "models").mkdir(parents=True)
    (proj / "models" / "legacy_model.sql").write_text("SELECT 1 AS x\n")
    (proj / "models" / "extra.sql").write_text("SELECT 1 AS x\n")
    (proj / "models" / "stg_b.sql").write_text("SELECT 1 AS x\n")
    (proj / "models" / "mrt_d.sql").write_text(
        "-- old: FROM legacy_model\n"
        "/* also old:\n   FROM legacy_model */\n"
        "WITH a AS (SELECT 1 AS x),extra AS (SELECT * FROM a)\n"
        "SELECT * FROM extra\n"
        "JOIN stg_b USING (x)\n"
    )
    assert main(["model", "convert", "mrt_d", "--project", str(proj)]) == 0
    capsys.readouterr()
    sql = (proj / "models" / "mrt_d.sql").read_text()
    assert "ref('legacy_model')" not in sql          # comments untouched
    assert "FROM extra\n" in sql                      # compact CTE shadowing
    assert "JOIN {{ ref('stg_b') }} USING (x)" in sql # real ref rewritten
    from dbtwiz_spark.project import load_project

    manifest, _ = load_project(proj)
    assert manifest.parent_map["mrt_d"] == {"stg_b"}


def test_inheritance_applies_at_shallow_depths(tmp_path):
    """Review fix: hierarchy levels apply at any model depth — a depth-2
    model under a layer folder gets project+layer values, a depth-1 model
    gets the project level."""
    import yaml

    proj = tmp_path / "shallow"
    (proj / "models" / "3_marts").mkdir(parents=True)
    (proj / "project.yml").write_text(yaml.safe_dump({
        "name": "demo",
        "models": {"demo": {"+group": "core",
                            "3_marts": {"+access": "protected"}}},
    }))
    (proj / "models" / "util.sql").write_text("SELECT 1 AS a\n")
    (proj / "models" / "3_marts" / "toplevel.sql").write_text(
        "SELECT 1 AS a\n"
    )
    from dbtwiz_spark.project import load_project

    manifest, _ = load_project(proj)
    assert manifest.models["util"].group == "core"
    assert manifest.models["util"].access is None
    assert manifest.models["toplevel"].group == "core"
    assert manifest.models["toplevel"].access == "protected"


def test_load_governance_tolerates_empty_config_key(tmp_path):
    """Review fix: a group entry with an empty 'config:' value must not
    crash governance loading."""
    proj = tmp_path / "emptycfg"
    (proj / "models").mkdir(parents=True)
    (proj / "models" / "model_groups.yml").write_text(
        "groups:\n  - name: finance\n    config:\n  - name: bare\n"
    )
    from dbtwiz_spark.project import load_governance

    gov = load_governance(proj)
    assert set(gov.groups) == {"finance", "bare"}


def test_last_select_saved_after_picker_resolution(spark, project, wh_dir, capsys):
    """Review fix: last_select.json records the selector as RESOLVED (what
    was actually built), so a typo'd-then-picked selection replays
    deterministically. Headless here, so we assert via a direct build —
    the saved selector equals args.select at run time, post-picker."""
    import json as _json

    assert main(["build", "--project", str(project), "--warehouse", wh_dir,
                 "--select", "mrt_nation_balance"]) == 0
    capsys.readouterr()
    saved = _json.loads(
        (project / ".dbtwiz_spark" / "last_select.json").read_text()
    )
    assert saved["select"] == "mrt_nation_balance"


def test_model_convert_ignores_comment_markers_inside_strings(tmp_path, capsys):
    """Review fix: '--' or '/*' inside a string literal must not open a
    comment span — references after them are still converted."""
    proj = tmp_path / "conv4"
    (proj / "models").mkdir(parents=True)
    (proj / "models" / "stg_c.sql").write_text("SELECT 1 AS x\n")
    (proj / "models" / "orders.sql").write_text("SELECT 1 AS x\n")
    (proj / "models" / "mrt_e.sql").write_text(
        "SELECT 'a--b' AS tag, '/*not a comment*/' AS t2, *\n"
        "FROM stg_c\n"
        "-- , orders AS ( this is really a comment\n"
        "JOIN orders USING (x)\n"
    )
    assert main(["model", "convert", "mrt_e", "--project", str(proj)]) == 0
    capsys.readouterr()
    sql = (proj / "models" / "mrt_e.sql").read_text()
    assert "FROM {{ ref('stg_c') }}" in sql   # literal -- did not hide it
    # the commented-out CTE declaration did not shadow the real model
    assert "JOIN {{ ref('orders') }} USING (x)" in sql


def test_model_convert_never_rewrites_inside_string_literals(tmp_path, capsys):
    """Review fix: a FROM that appears INSIDE a string literal is data,
    not a reference — it must survive conversion byte-identical, and a
    ', x AS (' inside a string must not register a phantom CTE."""
    proj = tmp_path / "conv5"
    (proj / "models").mkdir(parents=True)
    (proj / "models" / "orders.sql").write_text("SELECT 1 AS x\n")
    (proj / "models" / "agg.sql").write_text("SELECT 1 AS x\n")
    (proj / "models" / "mrt_f.sql").write_text(
        "SELECT '%deleted FROM orders%' AS pat,\n"
        "       'x, phantom AS (' AS weird, *\n"
        "FROM agg\n"
    )
    assert main(["model", "convert", "mrt_f", "--project", str(proj)]) == 0
    capsys.readouterr()
    sql = (proj / "models" / "mrt_f.sql").read_text()
    assert "'%deleted FROM orders%'" in sql      # literal untouched
    assert "FROM {{ ref('agg') }}" in sql        # real ref converted


def test_model_create_rejects_invalid_inherited_governance(tmp_path, capsys):
    """Review fix: a typo'd +group in the project.yml models hierarchy
    fails fast at create time instead of propagating silently."""
    import yaml

    proj = _governance_project(tmp_path)
    cfgd = yaml.safe_load((proj / "project.yml").read_text())
    cfgd["models"] = {"gov": {"3_marts": {"finance": {"+group": "financee"}}}}
    (proj / "project.yml").write_text(yaml.safe_dump(cfgd))
    assert main(["model", "create", "--project", str(proj), "--name", "rev",
                 "--layer", "marts", "--domain", "finance"]) == 1
    out = capsys.readouterr().out
    assert "inherited group 'financee'" in out
    assert not (proj / "models" / "3_marts").exists()


def test_build_target_environments(tmp_path, capsys):
    """--target resolves the warehouse through project.yml targets:
    (reference dbt/target.py + commands/build.py:62-115): dev requires a
    selector; a non-dev target with no selector defaults to
    state:modified+ against the target's declared state file; an unknown
    target or missing both --warehouse/--target is a clean error."""
    proj = tmp_path / "projtgt"
    (proj / "models").mkdir(parents=True)
    (proj / "project.yml").write_text(
        "name: tgt\n"
        "targets:\n"
        "  dev:  {warehouse: wh_dev}\n"
        f"  prod: {{warehouse: wh_prod, state: state.json}}\n"
    )
    (proj / "models" / "m_one.sql").write_text("SELECT 1 AS x\n")
    (proj / "models" / "m_one.yml").write_text("materialized: table\n")
    (proj / "models" / "m_two.sql").write_text("SELECT 2 AS y\n")
    (proj / "models" / "m_two.yml").write_text("materialized: table\n")

    # dev + selector: builds into the target-resolved warehouse dir
    assert main(["build", "--project", str(proj), "-t", "dev",
                 "--select", "m_one"]) == 0
    assert (proj / "wh_dev" / "m_one").exists()
    capsys.readouterr()

    # dev with no selector is an error before any build happens
    assert main(["build", "--project", str(proj), "-t", "dev"]) == 1
    assert "selector is required with the dev target" in capsys.readouterr().out

    # neither --warehouse nor --target; unknown target
    assert main(["build", "--project", str(proj), "--select", "m_one"]) == 1
    assert "either --warehouse or --target" in capsys.readouterr().out
    assert main(["build", "--project", str(proj), "-t", "staging",
                 "--select", "m_one"]) == 1
    assert "not declared in project.yml targets" in capsys.readouterr().out

    # --warehouse always wins over --target
    assert main(["build", "--project", str(proj), "-t", "dev",
                 "--warehouse", str(proj / "wh_x"),
                 "--select", "m_one"]) == 0
    assert (proj / "wh_x" / "m_one").exists()
    capsys.readouterr()

    # prod with no selector: state:modified+ vs the target's state file.
    # Save fingerprints, touch ONE model, and only it rebuilds.
    assert main(["manifest", "--project", str(proj),
                 "--save-state", str(proj / "state.json")]) == 0
    capsys.readouterr()
    (proj / "models" / "m_two.sql").write_text("SELECT 22 AS y\n")
    assert main(["build", "--project", str(proj), "-t", "prod"]) == 0
    out = capsys.readouterr().out
    assert "state:modified+" in out
    assert "m_two" in out and "m_one" not in out
    assert (proj / "wh_prod" / "m_two").exists()
    assert not (proj / "wh_prod" / "m_one").exists()


def _drop_temp_views(names):
    """Simulate a fresh process: temp views from earlier main() calls in
    this test session would mask the cross-invocation resolution paths."""
    from dbtwiz_spark.session import get_spark

    s = get_spark()
    for n in names:
        s.catalog.dropTempView(n)


def test_cross_process_refs_and_view_persistence(tmp_path, capsys):
    """A model built in a PREVIOUS invocation must be readable by a later
    partial build (fresh process = no leftover temp views): tables
    re-register from the warehouse, and view definitions persist in
    _views.json and reload — including a view whose child is built two
    invocations later."""
    from pathlib import Path

    proj = tmp_path / "projx"
    (proj / "models").mkdir(parents=True)
    (proj / "project.yml").write_text("name: x\n")
    (proj / "models" / "base.sql").write_text("SELECT 1 AS k, 10 AS v\n")
    (proj / "models" / "base.yml").write_text("materialized: table\n")
    (proj / "models" / "v_base.sql").write_text(
        "SELECT k, v * 2 AS v2 FROM {{ ref('base') }}\n")
    (proj / "models" / "v_base.yml").write_text("materialized: view\n")
    (proj / "models" / "child.sql").write_text(
        "SELECT k, v2 + 1 AS v3 FROM {{ ref('v_base') }}\n")
    (proj / "models" / "child.yml").write_text("materialized: table\n")
    wh = str(tmp_path / "whx")

    assert main(["build", "--project", str(proj), "--warehouse", wh,
                 "--select", "base v_base"]) == 0
    assert (Path(wh) / "_views.json").exists()
    capsys.readouterr()

    # "new process": no temp views left — child must resolve v_base from
    # the persisted view SQL, whose own parent re-registers from disk
    _drop_temp_views(["base", "v_base", "child"])
    assert main(["build", "--project", str(proj), "--warehouse", wh,
                 "--select", "child"]) == 0
    out = capsys.readouterr().out
    assert "success  child" in out and "error" not in out


def test_build_defer_target(tmp_path, capsys):
    """--defer-target (dbt --defer): a dev build of a modified child reads
    its untouched parent from the prod warehouse when the dev warehouse
    does not have it; a locally-built parent wins over the deferred one."""
    proj = tmp_path / "projdef"
    (proj / "models").mkdir(parents=True)
    (proj / "project.yml").write_text(
        "name: d\n"
        "targets:\n"
        "  dev:  {warehouse: wh_dev}\n"
        "  prod: {warehouse: wh_prod}\n"
    )
    (proj / "models" / "parent.sql").write_text("SELECT 7 AS k\n")
    (proj / "models" / "parent.yml").write_text("materialized: table\n")
    (proj / "models" / "child.sql").write_text(
        "SELECT k * 100 AS kk FROM {{ ref('parent') }}\n")
    (proj / "models" / "child.yml").write_text("materialized: table\n")

    assert main(["build", "--project", str(proj), "-t", "prod",
                 "--select", "parent"]) == 0
    capsys.readouterr()
    _drop_temp_views(["parent", "child"])

    # without defer, the dev build of child alone cannot resolve parent
    assert main(["build", "--project", str(proj), "-t", "dev",
                 "--select", "child"]) == 1
    capsys.readouterr()
    _drop_temp_views(["parent", "child"])

    assert main(["build", "--project", str(proj), "-t", "dev",
                 "--select", "child", "--defer-target", "prod"]) == 0
    out = capsys.readouterr().out
    assert "success  child" in out
    assert (proj / "wh_dev" / "child").exists()
    assert not (proj / "wh_dev" / "parent").exists()  # read, not copied

    # unknown defer target is a clean error
    assert main(["build", "--project", str(proj), "-t", "dev",
                 "--select", "child", "--defer-target", "nope"]) == 1
    assert "defer target" in capsys.readouterr().out


def test_last_replay_restores_state_path(tmp_path, capsys):
    """Review fix: the auto-derived state:modified+ selector is saved WITH
    its state path — `build --last` with state=None would fingerprint-
    mismatch every model and rebuild the whole project."""
    import json as _json

    proj = tmp_path / "projlast"
    (proj / "models").mkdir(parents=True)
    (proj / "project.yml").write_text(
        "name: tgtlast\n"
        "targets:\n"
        f"  prod: {{warehouse: wh_prod, state: state.json}}\n"
    )
    (proj / "models" / "m_a.sql").write_text("SELECT 1 AS x\n")
    (proj / "models" / "m_a.yml").write_text("materialized: table\n")
    (proj / "models" / "m_b.sql").write_text("SELECT 2 AS y\n")
    (proj / "models" / "m_b.yml").write_text("materialized: table\n")
    assert main(["manifest", "--project", str(proj),
                 "--save-state", str(proj / "state.json")]) == 0
    capsys.readouterr()
    (proj / "models" / "m_b.sql").write_text("SELECT 22 AS y\n")
    assert main(["build", "--project", str(proj), "-t", "prod"]) == 0
    capsys.readouterr()
    saved = _json.loads((proj / ".dbtwiz_spark" / "last_select.json").read_text())
    assert saved["select"] == "state:modified+"
    assert saved["state"] and saved["state"].endswith("state.json")
    # replay: still only the modified model, not the whole project
    assert main(["build", "--project", str(proj), "-t", "prod", "--last"]) == 0
    out = capsys.readouterr().out
    assert "m_b" in out and "m_a" not in out


def test_model_lint_unknown_name_is_an_error(tmp_path, capsys):
    """Review fix: a typo'd model name must not report 'lint clean'."""
    proj = tmp_path / "projlint"
    (proj / "models").mkdir(parents=True)
    (proj / "models" / "m_ok.sql").write_text("SELECT 1 AS x\n")
    assert main(["model", "lint", "--project", str(proj), "no_such_model"]) == 2
    assert "no model file named" in capsys.readouterr().out
    assert main(["model", "fix", "--project", str(proj), "no_such_model"]) == 2
    assert "no model file named" in capsys.readouterr().out


def test_malformed_target_is_clean_cli_error(tmp_path, capsys):
    """Review fix: a target without a warehouse key prints a one-line
    error instead of a ValueError traceback."""
    proj = tmp_path / "projbad"
    (proj / "models").mkdir(parents=True)
    (proj / "project.yml").write_text("name: bad\ntargets:\n  prod: {}\n")
    (proj / "models" / "m.sql").write_text("SELECT 1 AS x\n")
    (proj / "models" / "m.yml").write_text("materialized: table\n")
    assert main(["build", "--project", str(proj), "-t", "prod",
                 "--select", "m"]) == 1
    assert "must declare a warehouse path" in capsys.readouterr().out


def test_backfill_task_ranges_without_first_last(spark, project, wh_dir, capsys):
    """Review fix: --task-ranges fully determines each worker's dates, so
    --first/--last are optional with it — and missing all three is a clean
    error, not an argparse 'required' failure that contradicts the help."""
    rc = main(
        ["backfill", "--project", str(project), "--warehouse", wh_dir,
         "--select", "daily_orders", "--batch-days", "10",
         "--task-ranges", "1995-02-01:1995-02-10", "--task-index", "0"]
    )
    out = capsys.readouterr().out
    assert rc == 0, out
    assert out.count("success") == 1
    assert main(["backfill", "--project", str(project), "--warehouse", wh_dir,
                 "--select", "daily_orders"]) == 1
    assert "--first and --last are required" in capsys.readouterr().out


def test_backfill_rejects_first_last_with_task_ranges(project, wh_dir, capsys):
    """Review fix: --first/--last alongside --task-ranges would be
    silently ignored — reject the combination instead."""
    assert main(["backfill", "--project", str(project), "--warehouse", wh_dir,
                 "--select", "daily_orders", "--task-ranges",
                 "1995-02-01:1995-02-10", "--task-index", "0",
                 "--first", "1995-02-01", "--last", "1995-02-05"]) == 1
    assert "cannot be combined with" in capsys.readouterr().out


def test_model_level_custom_tests(tmp_path, capsys):
    """dbt's singular-test surface: model-level `tests:` entries — an
    `expression` row predicate and a `sql` query selecting violations
    (refs render like model SQL; zero rows = pass)."""
    proj = tmp_path / "projtests"
    (proj / "models").mkdir(parents=True)
    (proj / "project.yml").write_text("name: t\n")
    (proj / "models" / "m_nums.sql").write_text(
        "SELECT 1 AS k, 10 AS v UNION ALL SELECT 2 AS k, 20 AS v\n")
    (proj / "models" / "m_nums.yml").write_text(
        "materialized: table\n"
        "tests:\n"
        "  - expression: v > 0\n"
        "  - name: no_large_v\n"
        "    sql: \"SELECT * FROM {{ ref('m_nums') }} WHERE v > 100\"\n"
    )
    wh = str(proj / "wh")
    assert main(["build", "--project", str(proj), "--warehouse", wh,
                 "--select", "m_nums"]) == 0
    capsys.readouterr()
    assert main(["test", "--project", str(proj), "--warehouse", wh]) == 0
    out = capsys.readouterr().out
    assert "pass" in out and "no_large_v" in out and "expression v > 0" in out

    # now make both tests fail
    (proj / "models" / "m_nums.sql").write_text(
        "SELECT 1 AS k, -5 AS v UNION ALL SELECT 2 AS k, 500 AS v\n")
    assert main(["build", "--project", str(proj), "--warehouse", wh,
                 "--select", "m_nums"]) == 0
    capsys.readouterr()
    assert main(["test", "--project", str(proj), "--warehouse", wh]) == 1
    out = capsys.readouterr().out
    assert out.count("FAIL") == 2
    assert "1 violating rows" in out and "1 failing rows" in out


def test_build_work_selects_locally_changed_models(tmp_path, capsys):
    """Reference `build --work`: only models with local git changes build
    (commands/__init__.py:106 + dbt/support.py models_with_local_changes);
    a selector fuzzy-filters the changed set; none changed = clean error."""
    import subprocess

    proj = tmp_path / "projwork"
    (proj / "models").mkdir(parents=True)
    (proj / "project.yml").write_text("name: w\n")
    for n in ("m_alpha", "m_beta", "m_gamma"):
        (proj / "models" / f"{n}.sql").write_text(f"SELECT '{n}' AS v\n")
        (proj / "models" / f"{n}.yml").write_text("materialized: table\n")
    subprocess.run(["git", "init", "-q"], cwd=proj, check=True)
    subprocess.run(["git", "add", "-A"], cwd=proj, check=True)
    subprocess.run(["git", "-c", "user.email=t@t", "-c", "user.name=t",
                    "commit", "-qm", "init"], cwd=proj, check=True)
    wh = str(proj / "wh")

    # clean tree: --work finds nothing
    assert main(["build", "--project", str(proj), "--warehouse", wh,
                 "--work"]) == 1
    assert "no new or modified models found" in capsys.readouterr().out

    # modify one, add one untracked: exactly those two build
    (proj / "models" / "m_beta.sql").write_text("SELECT 'beta2' AS v\n")
    (proj / "models" / "m_new.sql").write_text("SELECT 'new' AS v\n")
    (proj / "models" / "m_new.yml").write_text("materialized: table\n")
    assert main(["build", "--project", str(proj), "--warehouse", wh,
                 "--work"]) == 0
    out = capsys.readouterr().out
    assert "m_beta" in out and "m_new" in out and "m_alpha" not in out

    # a selector narrows the changed set
    assert main(["build", "--project", str(proj), "--warehouse", wh,
                 "--work", "--select", "beta"]) == 0
    out = capsys.readouterr().out
    assert "m_beta" in out and "m_new" not in out


def test_singular_sql_test_refs_other_selected_model(tmp_path, capsys):
    """Review fix: a sql test ref'ing ANOTHER selected model must resolve
    in a fresh process (selected models' built tables register as temp
    views, not only ancestors outside the selection)."""
    proj = tmp_path / "projxref"
    (proj / "models").mkdir(parents=True)
    (proj / "project.yml").write_text("name: x\n")
    (proj / "models" / "p_dim.sql").write_text("SELECT 1 AS k\n")
    (proj / "models" / "p_dim.yml").write_text("materialized: table\n")
    (proj / "models" / "m_child.sql").write_text("SELECT 1 AS k, 7 AS v\n")
    (proj / "models" / "m_child.yml").write_text(
        "materialized: table\n"
        "tests:\n"
        "  - name: child_in_parent\n"
        "    sql: \"SELECT c.k FROM {{ ref('m_child') }} c\n"
        "      LEFT ANTI JOIN {{ ref('p_dim') }} p ON c.k = p.k\"\n"
    )
    wh = str(proj / "wh")
    assert main(["build", "--project", str(proj), "--warehouse", wh]) == 0
    capsys.readouterr()
    _drop_temp_views(["p_dim", "m_child"])  # simulate a fresh process
    assert main(["test", "--project", str(proj), "--warehouse", wh]) == 0
    out = capsys.readouterr().out
    assert "child_in_parent" in out and "FAIL" not in out


def test_build_work_sees_renames_and_sidecar_changes(tmp_path, capsys):
    """Review fix: --work selects a git-mv'd model under its NEW name and
    a model whose only change is its .yml sidecar."""
    import subprocess

    proj = tmp_path / "projwork2"
    (proj / "models").mkdir(parents=True)
    (proj / "project.yml").write_text("name: w2\n")
    for n in ("m_one", "m_two"):
        (proj / "models" / f"{n}.sql").write_text(f"SELECT '{n}' AS v\n")
        (proj / "models" / f"{n}.yml").write_text("materialized: table\n")
    subprocess.run(["git", "init", "-q"], cwd=proj, check=True)
    subprocess.run(["git", "add", "-A"], cwd=proj, check=True)
    subprocess.run(["git", "-c", "user.email=t@t", "-c", "user.name=t",
                    "commit", "-qm", "init"], cwd=proj, check=True)
    # staged rename + sidecar-only change
    subprocess.run(["git", "mv", "models/m_one.sql", "models/m_moved.sql"],
                   cwd=proj, check=True)
    subprocess.run(["git", "mv", "models/m_one.yml", "models/m_moved.yml"],
                   cwd=proj, check=True)
    (proj / "models" / "m_two.yml").write_text(
        "materialized: table\ntags: [x]\n")
    wh = str(proj / "wh")
    assert main(["build", "--project", str(proj), "--warehouse", wh,
                 "--work"]) == 0
    out = capsys.readouterr().out
    assert "m_moved" in out and "m_two" in out


def test_view_models_run_their_declared_tests(tmp_path, capsys):
    """Review fix: a view-materialized model's declared tests must RUN
    (views were silently skipped, exiting 0 untested) — including a sql
    test on another model ref'ing the view, in a fresh process."""
    proj = tmp_path / "projviewtests"
    (proj / "models").mkdir(parents=True)
    (proj / "project.yml").write_text("name: vt\n")
    (proj / "models" / "base_t.sql").write_text(
        "SELECT 1 AS k UNION ALL SELECT 2 AS k UNION ALL SELECT 2 AS k\n")
    (proj / "models" / "base_t.yml").write_text("materialized: table\n")
    (proj / "models" / "v_stats.sql").write_text(
        "SELECT k, COUNT(*) AS n FROM {{ ref('base_t') }} GROUP BY k\n")
    (proj / "models" / "v_stats.yml").write_text(
        "materialized: view\n"
        "columns:\n"
        "  - name: k\n"
        "    tests: [unique, not_null]\n"
        "tests:\n"
        "  - expression: n >= 1\n"
    )
    (proj / "models" / "m_reader.sql").write_text(
        "SELECT SUM(n) AS total FROM {{ ref('v_stats') }}\n")
    (proj / "models" / "m_reader.yml").write_text(
        "materialized: table\n"
        "tests:\n"
        "  - name: totals_match\n"
        "    sql: \"SELECT 1 AS bad FROM {{ ref('m_reader') }} r,\n"
        "      (SELECT CAST(SUM(n) AS BIGINT) AS t FROM {{ ref('v_stats') }}) v\n"
        "      WHERE r.total <> v.t\"\n"
    )
    wh = str(proj / "wh")
    assert main(["build", "--project", str(proj), "--warehouse", wh]) == 0
    capsys.readouterr()
    _drop_temp_views(["base_t", "v_stats", "m_reader"])  # fresh process
    assert main(["test", "--project", str(proj), "--warehouse", wh]) == 0
    out = capsys.readouterr().out
    assert "v_stats: unique k" in out      # view's column tests ran
    assert "expression n >= 1" in out      # view's singular test ran
    assert "totals_match" in out and "FAIL" not in out


def test_admin_expire_snapshots_sweeps_warehouse(spark, tmp_path, capsys):
    """Warehouse-wide snapshot GC: snapshots past retention expire across
    every table in one command; recent snapshots survive."""
    import os
    import time as _time

    from dbtwiz_spark.materialize import SNAPSHOT_DIRNAME, Warehouse

    wh_dir = str(tmp_path / "wh")
    wh = Warehouse(spark, wh_dir)
    for t in ("t_a", "t_b"):
        df = spark.createDataFrame([(1, "x")], "k INT, v STRING")
        wh.write_table(t, df, snapshot=False)
        wh.write_table(t, df, snapshot=True)  # one snapshot each
    # backdate t_a's snapshot past the window
    snaps = wh.snapshots("t_a")
    old_ms = int(_time.time() * 1000) - 9 * 86_400_000
    os.rename(wh.path("t_a") / SNAPSHOT_DIRNAME / str(snaps[0]),
              wh.path("t_a") / SNAPSHOT_DIRNAME / str(old_ms))
    assert main(["admin", "expire-snapshots", "--warehouse", wh_dir]) == 0
    out = capsys.readouterr().out
    assert "t_a: expired 1" in out and "1 snapshot(s) expired" in out
    assert wh.snapshots("t_a") == []
    assert len(wh.snapshots("t_b")) == 1  # recent snapshot survives


def test_view_of_view_and_expire_snapshots_guards(spark, tmp_path, capsys):
    """Review fixes: chained views register in topo order (a sql test
    ref'ing a view-of-view resolves in a fresh process); expire-snapshots
    rejects unknown --table and never sweeps __old_ recovery dirs."""
    proj = tmp_path / "projvv"
    (proj / "models").mkdir(parents=True)
    (proj / "project.yml").write_text("name: vv\n")
    (proj / "models" / "base_v.sql").write_text("SELECT 1 AS k\n")
    (proj / "models" / "base_v.yml").write_text("materialized: table\n")
    (proj / "models" / "v_one.sql").write_text(
        "SELECT k FROM {{ ref('base_v') }}\n")
    (proj / "models" / "v_one.yml").write_text("materialized: view\n")
    (proj / "models" / "v_two.sql").write_text(
        "SELECT k FROM {{ ref('v_one') }}\n")
    (proj / "models" / "v_two.yml").write_text(
        "materialized: view\ntests:\n  - expression: k = 1\n")
    (proj / "models" / "m_probe.sql").write_text(
        "SELECT COUNT(*) AS n FROM {{ ref('v_two') }}\n")
    (proj / "models" / "m_probe.yml").write_text(
        "materialized: table\n"
        "tests:\n"
        "  - name: probe_vs_view\n"
        "    sql: \"SELECT 1 AS bad FROM {{ ref('m_probe') }} p,\n"
        "      (SELECT COUNT(*) AS n FROM {{ ref('v_two') }}) v\n"
        "      WHERE p.n <> v.n\"\n"
    )
    wh_dir = str(proj / "wh")
    assert main(["build", "--project", str(proj), "--warehouse", wh_dir]) == 0
    capsys.readouterr()
    _drop_temp_views(["base_v", "v_one", "v_two", "m_probe"])
    assert main(["test", "--project", str(proj), "--warehouse", wh_dir]) == 0
    out = capsys.readouterr().out
    assert "probe_vs_view" in out and "expression k = 1" in out
    assert "FAIL" not in out

    # expire-snapshots: unknown table errors; __old_ dirs are not swept
    from dbtwiz_spark.materialize import Warehouse

    wh = Warehouse(spark, wh_dir)
    (wh.path("ghost__old_123")).mkdir()
    assert main(["admin", "expire-snapshots", "--warehouse", wh_dir,
                 "--table", "nope"]) == 1
    assert "no table" in capsys.readouterr().out
    assert main(["admin", "expire-snapshots", "--warehouse", wh_dir]) == 0
    assert "ghost__old_123" not in capsys.readouterr().out
    assert wh.path("ghost__old_123").exists()


def test_manifest_dot_export(project, capsys):
    """`manifest --format dot` emits a Graphviz lineage graph: models
    shaped by materialization, edges from parents and sources, valid
    digraph framing."""
    assert main(["manifest", "--project", str(project),
                 "--format", "dot"]) == 0
    out = capsys.readouterr().out
    assert out.startswith("digraph models {") and out.rstrip().endswith("}")
    assert '"stg_customer" -> "mrt_nation_balance";' in out
    assert 'shape=note label="stg_customer\\nview"' in out
    assert 'shape=ellipse label="customer\\nsource"' in out


def test_build_retry_failed_reruns_error_and_skipped(tmp_path, capsys):
    """dbt retry: --retry-failed re-runs exactly the previous run's
    error+skipped models from the persisted status map; a clean previous
    run retries nothing and exits 0."""
    proj = tmp_path / "projretry"
    (proj / "models").mkdir(parents=True)
    (proj / "project.yml").write_text("name: r\n")
    (proj / "models" / "r_ok.sql").write_text("SELECT 1 AS x\n")
    (proj / "models" / "r_ok.yml").write_text("materialized: table\n")
    (proj / "models" / "r_bad.sql").write_text("SELECT no_col FROM (SELECT 1 AS x)\n")
    (proj / "models" / "r_bad.yml").write_text("materialized: table\n")
    (proj / "models" / "r_child.sql").write_text("SELECT * FROM {{ ref('r_bad') }}\n")
    (proj / "models" / "r_child.yml").write_text("materialized: table\n")
    wh = str(proj / "wh")
    assert main(["build", "--project", str(proj), "--warehouse", wh]) == 1
    capsys.readouterr()
    # fix the broken model, then retry: only bad+child rebuild
    (proj / "models" / "r_bad.sql").write_text("SELECT 2 AS x\n")
    assert main(["build", "--project", str(proj), "--warehouse", wh,
                 "--retry-failed"]) == 0
    out = capsys.readouterr().out
    assert "r_bad" in out and "r_child" in out and " r_ok" not in out
    # clean run -> nothing to retry, exit 0
    assert main(["build", "--project", str(proj), "--warehouse", wh,
                 "--retry-failed"]) == 0
    assert "nothing to retry" in capsys.readouterr().out


def test_full_loop_work_modified_backfill_kill_retry(spark, tmp_path, capsys):
    """End-to-end orchestration loop (VERDICT r7 item 7): mutate a model
    in a git-tracked project, build it via --work, rebuild it plus
    downstream via state:modified+, then backfill with a chunk that DIES
    mid-run and finish the job with --retry. Pins the orchestration
    plane the way the corpus pins operators: the pieces are unit-tested
    individually, this is the composed workflow a user actually runs."""
    import subprocess

    import yaml

    from dbtwiz_spark.materialize import Warehouse

    proj = tmp_path / "projloop"
    (proj / "models").mkdir(parents=True)
    (proj / "project.yml").write_text("name: loop\n")
    (proj / "sources.yml").write_text(
        "sources:\n"
        f"  - name: customer\n    path: {SF_DIR}/customer.parquet\n"
        f"  - name: orders\n    path: {SF_DIR}/orders.parquet\n"
    )
    (proj / "models" / "stg_customer.sql").write_text(
        "SELECT c_custkey, c_nationkey, c_acctbal "
        "FROM {{ source('raw', 'customer') }} WHERE c_acctbal > 0"
    )
    (proj / "models" / "stg_customer.yml").write_text("materialized: table\n")
    (proj / "models" / "mrt_balance.sql").write_text(
        "SELECT c_nationkey, SUM(c_acctbal) AS total_bal "
        "FROM {{ ref('stg_customer') }} GROUP BY c_nationkey"
    )
    (proj / "models" / "mrt_balance.yml").write_text("materialized: table\n")
    # the backfill target carries a BOMB: jinja emits invalid SQL for the
    # chunk starting 1995-01-11 — the deterministic stand-in for a worker
    # killed mid-chunk (the journal sees an error either way)
    bombed_sql = (
        "{% if var('data_interval_start', '') == '1995-01-11' %}"
        "CHUNK_KILLED(\n{% endif %}"
        "SELECT CAST(o_orderdate AS DATE) AS partitiondate, COUNT(*) AS n "
        "FROM {{ source('raw', 'orders') }} "
        "WHERE o_orderdate >= {{ interval_start() }} "
        "AND o_orderdate < {{ interval_end() }} GROUP BY 1"
    )
    (proj / "models" / "daily_orders.sql").write_text(bombed_sql)
    (proj / "models" / "daily_orders.yml").write_text(
        yaml.safe_dump({
            "materialized": "incremental",
            "incremental_strategy": "insert_overwrite",
            "partition_by": "partitiondate",
        })
    )
    subprocess.run(["git", "init", "-q"], cwd=proj, check=True)
    subprocess.run(["git", "add", "-A"], cwd=proj, check=True)
    subprocess.run(["git", "-c", "user.email=t@t", "-c", "user.name=t",
                    "commit", "-qm", "init"], cwd=proj, check=True)
    wh = str(proj / "wh")

    # baseline: build the non-interval models, save the state fingerprints
    assert main(["build", "--project", str(proj), "--warehouse", wh,
                 "--select", "+mrt_balance"]) == 0
    state_file = str(tmp_path / "loop_state.json")
    assert main(["manifest", "--project", str(proj),
                 "--save-state", state_file]) == 0
    capsys.readouterr()

    # 1. mutate the staging model; --work picks up exactly the git change
    (proj / "models" / "stg_customer.sql").write_text(
        "SELECT c_custkey, c_nationkey, c_acctbal "
        "FROM {{ source('raw', 'customer') }} WHERE c_acctbal > 100"
    )
    assert main(["build", "--project", str(proj), "--warehouse", wh,
                 "--work"]) == 0
    out = capsys.readouterr().out
    assert "building locally changed models: stg_customer" in out
    assert "mrt_balance" not in out, "--work must not build unchanged models"

    # 2. state:modified+ vs the pre-mutation fingerprints rebuilds the
    # changed model AND its downstream, leaving the bombed model alone
    assert main(["build", "--project", str(proj), "--warehouse", wh,
                 "--select", "state:modified+", "--state", state_file]) == 0
    out = capsys.readouterr().out
    assert "stg_customer" in out and "mrt_balance" in out
    assert "daily_orders" not in out

    # 3. backfill January in 10-day chunks: chunk 2 dies, serial mode
    # stops there (self-dependent models must not skip an interval) —
    # chunk 1 succeeded, chunks 3-4 were never attempted
    journal = str(tmp_path / "loop_journal.json")
    rc = main(["backfill", "--project", str(proj), "--warehouse", wh,
               "--select", "daily_orders", "--first", "1995-01-01",
               "--last", "1995-01-31", "--batch-days", "10",
               "--journal", journal])
    out = capsys.readouterr().out
    assert rc == 1
    assert out.count("success") == 1 and "error" in out
    from dbtwiz_spark.backfill import BackfillJournal

    statuses = BackfillJournal(journal).load()
    assert sum("success" in str(v) for v in statuses.values()) == 1
    built = Warehouse(spark, wh).read("daily_orders")
    assert all(str(r.partitiondate) <= "1995-01-10"
               for r in built.select("partitiondate").collect())

    # 4. fix the model (the crash is resolved), retry: ONLY the failed +
    # never-attempted chunks run — re-running chunk 1 would double-write
    (proj / "models" / "daily_orders.sql").write_text(
        bombed_sql.replace("CHUNK_KILLED(\n", ""))
    assert main(["backfill", "--project", str(proj), "--warehouse", wh,
                 "--select", "daily_orders", "--retry",
                 "--first", "1995-01-01", "--last", "1995-01-31",
                 "--batch-days", "10", "--journal", journal]) == 0
    out = capsys.readouterr().out
    assert "1995-01-01" not in out, "--retry must not re-run the good chunk"
    assert out.count("success") == 3
    # the finished table covers the whole window, journal is all green
    days = sorted(str(r.partitiondate) for r in
                  Warehouse(spark, wh).read("daily_orders").collect())
    assert days[0].startswith("1995-01-0") and days[-1] >= "1995-01-21"
    assert all("success" in str(v)
               for v in BackfillJournal(journal).load().values())
