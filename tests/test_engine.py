"""End-to-end engine-spine tests: compile → build → rerun → state
selection → incremental → schema evolution, on a synthetic project in
tmp_path (driver testdata as the raw source)."""

import os

import pytest

from dbt_core_gcloud_template_spark.plans.compiler import CompilerError, compile_project
from dbt_core_gcloud_template_spark.plans.manifest import Manifest
from dbt_core_gcloud_template_spark.plans.project import load_project
from dbt_core_gcloud_template_spark.plans.runner import Engine


def make_project(root, sf_dir, fct_sql=None, schema="eng_test"):
    (root / "models" / "staging").mkdir(parents=True)
    (root / "models" / "marts").mkdir(parents=True)
    (root / "seeds").mkdir()
    (root / "snapshots").mkdir()
    (root / "project.yml").write_text(
        "name: t\nprofile: t\nmodels:\n  staging:\n    +materialized: view\n"
        "  marts:\n    +materialized: table\n"
    )
    (root / "profiles.yml").write_text(
        f"t:\n  target: dev\n  outputs:\n    dev:\n      schema: {schema}\n      threads: 4\n"
    )
    (root / "models" / "staging" / "src.yml").write_text(
        "sources:\n  - name: raw\n    schema: raw_t\n    tables:\n"
        "      - name: orders\n        external:\n"
        f"          location: {sf_dir}/orders.parquet\n"
        "          format: parquet\n"
        "        loaded_at_field: o_orderdate\n"
        "        freshness:\n          warn_after: {count: 24, period: hour}\n"
    )
    (root / "models" / "staging" / "stg_orders.sql").write_text(
        "select o_orderkey as id, o_orderdate as created_at_ts,\n"
        "       cast(o_totalprice as decimal(18,2)) as value\n"
        "from {{ source('raw', 'orders') }}"
    )
    (root / "models" / "staging" / "stg_orders.yml").write_text(
        "models:\n  - name: stg_orders\n    columns:\n      - name: id\n"
        "        tests: [unique, not_null]\n"
    )
    (root / "models" / "marts" / "fct_orders.sql").write_text(
        fct_sql
        or "select id, value, created_at_ts,\n"
        "  case when value > 150000 then 'high' else 'regular' end as bucket\n"
        "from {{ ref('stg_orders') }}"
    )
    (root / "seeds" / "tiny_seed.csv").write_text("id,name\n1,Alice\n2,Bob\n")
    (root / "snapshots" / "snap_orders.sql").write_text(
        "{{ config(unique_key='id', strategy='timestamp', updated_at='created_at_ts') }}\n"
        "select * from {{ ref('stg_orders') }}"
    )
    return str(root)


@pytest.fixture(scope="module")
def built(spark, sf_dir, tmp_path_factory):
    root = tmp_path_factory.mktemp("proj")
    proj_dir = make_project(root, sf_dir)
    eng = Engine(spark, proj_dir)
    results, manifest = eng.build()
    return eng, results, manifest, proj_dir


def test_build_all_green(built):
    _, results, _, _ = built
    counts = results.status_counts
    assert counts.get("error", 0) == 0 and counts.get("fail", 0) == 0
    assert counts["success"] == 4  # stg view, fct table, seed, snapshot
    assert counts["pass"] == 2  # unique + not_null


def test_relations_materialized(built, spark):
    eng, _, _, _ = built
    n = spark.table("raw_t.orders").count()
    assert spark.table("eng_test.stg_orders").count() == n
    assert spark.table("eng_test.fct_orders").count() == n
    assert spark.table("eng_test.example_snapshot" if False else "eng_test.snap_orders").count() == n
    assert spark.table("eng_test.tiny_seed").count() == 2
    # seed types inferred, not strings (reference seed semantics)
    assert dict(spark.table("eng_test.tiny_seed").dtypes)["id"] == "int"


def test_rerun_is_idempotent(built, spark):
    eng, _, _, _ = built
    results2, _ = eng.build()
    assert results2.status_counts.get("error", 0) == 0
    assert spark.table("eng_test.snap_orders").filter(
        "dbt_valid_to is not null"
    ).count() == 0  # no spurious SCD2 versions


def test_state_selection_modified_plus(built, tmp_path):
    eng, _, manifest, proj_dir = built
    state = tmp_path / "state"
    state.mkdir()
    manifest.write(str(state / "manifest.json"))
    prior = Manifest.read(str(state / "manifest.json"))
    # no edits → nothing modified
    assert eng.compile().select("state:modified+", prior=prior) == set()
    # edit fct → fct selected (+ its tests via build-time expansion)
    with open(os.path.join(proj_dir, "models", "marts", "fct_orders.sql"), "a") as f:
        f.write("\n-- touched")
    eng2 = Engine(eng.spark, proj_dir)
    sel = eng2.compile().select("state:modified+", prior=prior)
    assert "model.t.fct_orders" in sel
    assert "model.t.stg_orders" not in sel


def test_compile_error_on_unknown_ref(spark, sf_dir, tmp_path):
    proj_dir = make_project(tmp_path, sf_dir, schema="eng_err")
    bad = os.path.join(proj_dir, "models", "marts", "bad.sql")
    with open(bad, "w") as f:
        f.write("select * from {{ ref('nope') }}")
    with pytest.raises(CompilerError):
        compile_project(load_project(proj_dir))


def test_freshness_statuses(built):
    eng, _, _, _ = built
    res = eng.source_freshness()
    # orders max(o_orderdate) is years old → warn threshold exceeded
    assert res["source.raw.orders"]["status"] in ("warn", "error")


def test_incremental_merge_and_schema_evolution(spark, sf_dir, tmp_path):
    proj_dir = make_project(tmp_path, sf_dir, schema="eng_inc")
    inc = os.path.join(proj_dir, "models", "marts", "inc_orders.sql")
    with open(inc, "w") as f:
        f.write(
            "{{ config(materialized='incremental', incremental_strategy='merge', "
            "unique_key='id') }}\n"
            "select o_orderkey as id, o_totalprice as value\n"
            "from {{ source('raw', 'orders') }}\n"
            "{% if is_incremental() %} where o_orderkey % 2 = 0 {% endif %}"
        )
    eng = Engine(spark, proj_dir)
    r1, _ = eng.build(select="inc_orders")
    n = spark.table("eng_inc.inc_orders").count()
    assert n == spark.table("raw_t.orders").count()
    # second run: incremental branch active, merge keeps count stable
    eng2 = Engine(spark, proj_dir)
    r2, _ = eng2.build(select="inc_orders")
    assert spark.table("eng_inc.inc_orders").count() == n
    # schema evolution: add a column → append_new_columns path
    with open(inc, "w") as f:
        f.write(
            "{{ config(materialized='incremental', incremental_strategy='merge', "
            "unique_key='id') }}\n"
            "select o_orderkey as id, o_totalprice as value, 'x' as extra\n"
            "from {{ source('raw', 'orders') }}"
        )
    eng3 = Engine(spark, proj_dir)
    r3, _ = eng3.build(select="inc_orders")
    assert r3.status_counts.get("error", 0) == 0
    cols = spark.table("eng_inc.inc_orders").columns
    assert "extra" in cols
    assert spark.table("eng_inc.inc_orders").count() == n


def test_disabled_model_skipped(spark, sf_dir, tmp_path):
    proj_dir = make_project(tmp_path, sf_dir, schema="eng_dis")
    off = os.path.join(proj_dir, "models", "marts", "off.sql")
    with open(off, "w") as f:
        f.write("{{ config(enabled=false) }}\nselect 1 as x")
    eng = Engine(spark, proj_dir)
    results, _ = eng.build(select="off")
    assert any(
        r.unique_id == "model.t.off" and r.status == "skipped"
        for r in results.results
    )


def test_bucketed_write_colocated_join(spark, sf_dir, tmp_path):
    """bucket_by tables join on the bucket key with NO shuffle exchange
    (SURVEY §7.7: bucketing for co-located joins)."""
    proj = tmp_path / "bproj"
    make_project(proj, sf_dir, schema="bkt_test")
    eng = Engine(spark, str(proj))

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    eng.write_relation(
        orders, "bkt_test.orders_b",
        {"bucket_by": {"columns": ["o_orderkey"], "buckets": 4}},
    )
    eng.write_relation(
        lineitem, "bkt_test.lineitem_b",
        {"bucket_by": {"columns": ["l_orderkey"], "buckets": 4}},
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = spark.table("bkt_test.orders_b").join(
            spark.table("bkt_test.lineitem_b"),
            spark.table("bkt_test.orders_b").o_orderkey
            == spark.table("bkt_test.lineitem_b").l_orderkey,
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in plan
        assert j.count() == lineitem.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


@pytest.mark.parametrize("mode", ["ignore", "fail", "sync_all_columns"])
def test_on_schema_change_modes(spark, sf_dir, tmp_path, mode):
    proj = tmp_path / f"osc_{mode}"
    make_project(proj, sf_dir, schema=f"osc_{mode}")
    # incremental model keyed on id
    (proj / "models" / "marts" / "inc_model.sql").write_text(
        "{{ config(materialized='incremental', incremental_strategy='merge', "
        f"unique_key='id', on_schema_change='{mode}') }}}}\n"
        "select id, value from {{ ref('stg_orders') }}"
    )
    eng = Engine(spark, str(proj))
    r, _ = eng.build()
    assert r.status_counts.get("error", 0) == 0
    fqn = f"osc_{mode}.inc_model"
    base_cols = set(spark.table(fqn).columns)

    # drift: add a column, drop `value`
    (proj / "models" / "marts" / "inc_model.sql").write_text(
        "{{ config(materialized='incremental', incremental_strategy='merge', "
        f"unique_key='id', on_schema_change='{mode}') }}}}\n"
        "select id, value * 2 as doubled from {{ ref('stg_orders') }}"
    )
    eng2 = Engine(spark, str(proj))
    r2, _ = eng2.build()
    cols = set(spark.table(fqn).columns)
    if mode == "fail":
        assert r2.status_counts.get("error", 0) == 1
        assert cols == base_cols  # untouched
    elif mode == "ignore":
        assert r2.status_counts.get("error", 0) == 0
        assert cols == base_cols  # inserted through the target schema
    else:  # sync_all_columns
        assert r2.status_counts.get("error", 0) == 0
        assert cols == {"id", "doubled"}  # removed dropped, new added


def test_maximum_bytes_billed_guard(spark, sf_dir, tmp_path):
    """§4 cost guard: a tiny cap aborts table models before execution."""
    proj = tmp_path / "capproj"
    make_project(proj, sf_dir, schema="cap_test")
    (proj / "profiles.yml").write_text(
        "t:\n  target: dev\n  outputs:\n    dev:\n      schema: cap_test\n"
        "      threads: 4\n      maximum_bytes_billed: 10\n"
    )
    eng = Engine(spark, str(proj))
    r, _ = eng.build()
    errs = [x for x in r.results if x.status == "error"]
    assert errs, "expected the table model to hit the bytes cap"
    assert any("maximum_bytes_billed" in x.message for x in errs)


def test_job_execution_timeout_watchdog(spark, sf_dir, tmp_path):
    """§4 watchdog: job_execution_timeout_seconds cancels the node's
    job group and surfaces an error result."""
    proj = tmp_path / "toproj"
    make_project(proj, sf_dir, schema="to_test")
    (proj / "profiles.yml").write_text(
        "t:\n  target: dev\n  outputs:\n    dev:\n      schema: to_test\n"
        "      threads: 1\n      job_execution_timeout_seconds: 0.3\n"
    )
    # an expensive self-cross-join aggregation the watchdog must kill
    (proj / "models" / "marts" / "slow_model.sql").write_text(
        "{{ config(materialized='table') }}\n"
        "select count(*) as n from {{ ref('stg_orders') }} a "
        "cross join {{ ref('stg_orders') }} b cross join {{ ref('stg_orders') }} c"
    )
    eng = Engine(spark, str(proj))
    r, _ = eng.build(select="slow_model")
    by_id = {x.unique_id: x for x in r.results}
    slow = by_id["model.t.slow_model"]
    assert slow.status == "error"
    assert "job_execution_timeout_seconds" in slow.message or "cancelled" in slow.message.lower()


def test_node_seam_job_group_labels_and_pool(spark, sf_dir, tmp_path):
    """Every node runs under its own job group (id = node uid), a job
    description carrying the target's labels, and the scheduler pool
    named by the target's priority — read back from inside a model."""
    proj = tmp_path / "seamproj"
    make_project(proj, sf_dir, schema="seam_test")
    (proj / "profiles.yml").write_text(
        "t:\n  target: dev\n  outputs:\n    dev:\n      schema: seam_test\n"
        "      threads: 2\n      priority: batch\n"
        "      labels: {team: data, env: ci}\n"
    )
    (proj / "models" / "marts" / "seam_probe.py").write_text(
        "def model(dbt, session):\n"
        "    sc = session.sparkContext\n"
        "    props = [sc.getLocalProperty(k) for k in (\n"
        "        'spark.jobGroup.id', 'spark.job.description',\n"
        "        'spark.scheduler.pool')]\n"
        "    return session.createDataFrame(\n"
        "        [props], 'grp string, descr string, pool string')\n"
    )
    eng = Engine(spark, str(proj))
    r, _ = eng.build(select="seam_probe")
    assert [x.status for x in r.results] == ["success"]
    row = spark.table("seam_test.seam_probe").first()
    assert row.grp == "model.t.seam_probe"
    assert row.descr == "t:model.t.seam_probe team=data env=ci"
    assert row.pool == "batch"


def test_catalog_write_survives_failed_dump(spark, sf_dir, tmp_path, monkeypatch):
    """The shared relation catalog is replaced atomically: a dump that
    dies part-way leaves the previous catalog readable, so the next
    Engine still starts."""
    import json as _json

    proj = tmp_path / "catproj"
    make_project(proj, sf_dir, schema="cat_test")
    eng = Engine(spark, str(proj))
    eng.create_view("cat_test.v_one", "select 1 as x")
    with open(eng._catalog_path) as f:
        prior = _json.load(f)
    assert "cat_test.v_one" in prior

    def torn_dump(obj, fp, **kw):
        fp.write('{"cat_test.v_one": {"type": ')
        raise OSError("disk full")

    monkeypatch.setattr(_json, "dump", torn_dump)
    with pytest.raises(OSError, match="disk full"):
        eng.create_view("cat_test.v_two", "select 2 as x")
    monkeypatch.undo()
    with open(eng._catalog_path) as f:
        assert _json.load(f) == prior
    wh = os.path.dirname(eng._catalog_path)
    assert not [n for n in os.listdir(wh) if n.endswith(".tmp")]
    Engine(spark, str(proj))


def test_store_failures_audit_table(spark, sf_dir, tmp_path):
    """dbt store_failures parity: failing tests persist their violating
    rows to <schema>_dbt_test__audit.<test_name>."""
    proj = tmp_path / "sfproj"
    make_project(proj, sf_dir, schema="sf_test")
    (proj / "profiles.yml").write_text(
        "t:\n  target: dev\n  outputs:\n    dev:\n      schema: sf_test\n"
        "      threads: 4\n      store_failures: true\n"
    )
    # a model with a guaranteed duplicate key + a unique test on it
    (proj / "models" / "marts" / "dupes.sql").write_text(
        "{{ config(materialized='table') }}\n"
        "select 1 as k union all select 1 union all select 2"
    )
    (proj / "models" / "marts" / "dupes.yml").write_text(
        "models:\n  - name: dupes\n    columns:\n      - name: k\n"
        "        tests: [unique]\n"
    )
    eng = Engine(spark, str(proj))
    r, _ = eng.build(select="dupes")
    by_id = {x.unique_id: x for x in r.results}
    test_res = next(x for uid, x in by_id.items() if uid.startswith("test.unique_dupes"))
    assert test_res.status == "fail"
    audit = spark.table("sf_test_dbt_test__audit.unique_dupes_k")
    rows = audit.collect()
    assert len(rows) == 1 and rows[0]["k"] == 1 and rows[0]["n_records"] == 2


def test_incremental_predicates_bound_merge(spark, sf_dir, tmp_path):
    """incremental_predicates: target rows outside the predicate are
    never matched — kept untouched even when the key collides."""
    proj = tmp_path / "ipproj"
    make_project(proj, sf_dir, schema="ip_test")
    eng = Engine(spark, str(proj))
    eng.register_sources()
    spark.sql("CREATE DATABASE IF NOT EXISTS ip_test")
    # seed target: same key 1 in two "generations"
    tgt = spark.createDataFrame(
        [(1, "old", 2020), (1, "recent", 2024), (2, "recent", 2024)],
        "id long, label string, gen int",
    )
    eng.write_relation(tgt, "ip_test.inc_pred", {})
    (proj / "models" / "marts" / "inc_pred.sql").write_text(
        "{{ config(materialized='incremental', incremental_strategy='merge', "
        "unique_key='id', incremental_predicates=['gen >= 2024']) }}\n"
        "select cast(1 as bigint) as id, 'updated' as label, 2024 as gen"
    )
    eng2 = Engine(spark, str(proj))
    r, _ = eng2.build(select="inc_pred")
    assert r.status_counts.get("error", 0) == 0
    rows = {(x["id"], x["label"]) for x in spark.table("ip_test.inc_pred").collect()}
    # (1, 'old', 2020) survives (outside predicate); (1, 'recent') replaced
    assert rows == {(1, "old"), (1, "updated"), (2, "recent")}


def test_partitioned_snapshot_second_run(spark, sf_dir, tmp_path):
    """A snapshot with partition_by survives its second run (regression:
    the swap's DROP TABLE used to break the partitioned catalog read's
    execution-time partition listing)."""
    proj = tmp_path / "psnap"
    make_project(proj, sf_dir, schema="eng_psnap")
    (proj / "snapshots" / "snap_orders.sql").write_text(
        "{{ config(unique_key='id', strategy='timestamp',\n"
        "   updated_at='created_at_ts',\n"
        "   partition_by={'field': 'created_at_ts', 'data_type': 'timestamp',\n"
        "                 'granularity': 'year'}) }}\n"
        "select * from {{ ref('stg_orders') }}"
    )
    eng = Engine(spark, str(proj))
    r1, _ = eng.build()
    assert r1.status_counts.get("error", 0) == 0
    n1 = spark.table("eng_psnap.snap_orders").count()
    r2, _ = Engine(spark, str(proj)).build(select="snap_orders")
    by_id = {r.unique_id: r for r in r2.results}
    assert by_id["snapshot.t.snap_orders"].status == "success"
    assert spark.table("eng_psnap.snap_orders").count() == n1  # no change, no dupes


def test_partition_scoped_merge_leaves_untouched_partitions(spark, sf_dir, tmp_path):
    """A predicate-less merge on a partitioned target auto-scopes to the
    partitions present in the staged batch: untouched partition
    directories keep their exact files (inode + mtime), and only the
    touched partitions are rewritten."""
    proj = tmp_path / "psm"
    make_project(proj, sf_dir, schema="eng_psm")
    (proj / "models" / "marts" / "fct_orders.sql").write_text(
        "{{ config(materialized='incremental', incremental_strategy='merge',\n"
        "   unique_key='id',\n"
        "   partition_by={'field': 'created_at_ts', 'data_type': 'timestamp',\n"
        "                 'granularity': 'month'}) }}\n"
        "select id, value, created_at_ts from {{ ref('stg_orders') }}\n"
        "{% if is_incremental() %} where created_at_ts >= timestamp '2000-01-01' {% endif %}"
    )
    eng = Engine(spark, str(proj))
    results, _ = eng.build()
    assert results.status_counts.get("error", 0) == 0
    n_first = spark.table("eng_psm.fct_orders").count()
    loc = eng._catalog["eng_psm.fct_orders"]["location"]

    def snapshot(prefix):
        out = {}
        for root, _dirs, files in os.walk(loc):
            part = os.path.basename(root)
            if part.startswith("created_at_ts_month=") and part < prefix:
                for f in files:
                    p = os.path.join(root, f)
                    st = os.stat(p)
                    out[p] = (st.st_ino, st.st_mtime_ns)
        return out

    before = snapshot("created_at_ts_month=2000-01-01")
    assert before, "expected pre-2000 partition dirs"

    eng2 = Engine(spark, str(proj))
    results2, _ = eng2.build(select="fct_orders")
    by_id = {r.unique_id: r for r in results2.results}
    assert by_id["model.t.fct_orders"].status == "success"
    assert "partitions)" in by_id["model.t.fct_orders"].message
    # same keys merged back in: count is stable
    assert spark.table("eng_psm.fct_orders").count() == n_first
    # pre-2000 partitions were never rewritten: identical files
    assert snapshot("created_at_ts_month=2000-01-01") == before


def test_partition_scoped_merge_respects_user_predicates(spark, sf_dir, tmp_path):
    """partition_by + incremental_predicates compose: within TOUCHED
    partitions the predicate still bounds matching (out-of-predicate
    rows survive a key collision), and untouched partitions keep their
    files."""
    proj = tmp_path / "psmp"
    make_project(proj, sf_dir, schema="eng_psmp")
    eng = Engine(spark, str(proj))
    eng.register_sources()
    spark.sql("CREATE DATABASE IF NOT EXISTS eng_psmp")
    from datetime import datetime

    T_OLD, T_NEW = datetime(2020, 6, 1), datetime(2024, 6, 1)
    tgt = spark.createDataFrame(
        [(1, "old-gen", T_NEW, 2020), (1, "recent", T_NEW, 2024),
         (2, "other-part", T_OLD, 2024)],
        "id long, label string, created_at_ts timestamp, gen int",
    )
    part_cfg = {"partition_by": {"field": "created_at_ts",
                                 "data_type": "timestamp",
                                 "granularity": "year"}}
    eng.write_relation(tgt, "eng_psmp.inc_pp", part_cfg)
    loc = eng._catalog["eng_psmp.inc_pp"]["location"]

    def files(part):
        import glob
        return {p: os.stat(p).st_ino
                for p in glob.glob(os.path.join(loc, part, "*.parquet"))}

    before_2020 = files("created_at_ts_year=2020-01-01")
    assert before_2020

    (proj / "models" / "marts" / "inc_pp.sql").write_text(
        "{{ config(materialized='incremental', incremental_strategy='merge',\n"
        "   unique_key='id', incremental_predicates=['gen >= 2024'],\n"
        "   partition_by={'field': 'created_at_ts', 'data_type': 'timestamp',\n"
        "                 'granularity': 'year'}) }}\n"
        "select cast(1 as bigint) as id, 'updated' as label,\n"
        "       timestamp '2024-06-01' as created_at_ts, 2024 as gen"
    )
    r, _ = Engine(spark, str(proj)).build(select="inc_pp")
    assert r.status_counts.get("error", 0) == 0
    rows = {(x["id"], x["label"]) for x in spark.table("eng_psmp.inc_pp").collect()}
    # (1,'old-gen') is in the touched 2024 partition but OUTSIDE the
    # predicate -> survives; (1,'recent') matched and replaced;
    # (2,'other-part') lives in the untouched 2020 partition
    assert rows == {(1, "old-gen"), (1, "updated"), (2, "other-part")}
    assert files("created_at_ts_year=2020-01-01") == before_2020


def test_partition_scoped_merge_null_partition_values(spark, sf_dir, tmp_path):
    """A batch row with a NULL partition key lands in the default
    partition and merges correctly (isin() alone would silently drop
    the NULL scope)."""
    proj = tmp_path / "psmn"
    make_project(proj, sf_dir, schema="eng_psmn")
    eng = Engine(spark, str(proj))
    eng.register_sources()
    spark.sql("CREATE DATABASE IF NOT EXISTS eng_psmn")
    from datetime import datetime

    tgt = spark.createDataFrame(
        [(1, "dated", datetime(2024, 1, 1)), (2, "undated", None)],
        "id long, label string, created_at_ts timestamp",
    )
    part_cfg = {"partition_by": {"field": "created_at_ts",
                                 "data_type": "timestamp",
                                 "granularity": "year"}}
    eng.write_relation(tgt, "eng_psmn.inc_null", part_cfg)
    (proj / "models" / "marts" / "inc_null.sql").write_text(
        "{{ config(materialized='incremental', incremental_strategy='merge',\n"
        "   unique_key='id',\n"
        "   partition_by={'field': 'created_at_ts', 'data_type': 'timestamp',\n"
        "                 'granularity': 'year'}) }}\n"
        "select cast(2 as bigint) as id, 'updated' as label,\n"
        "       cast(null as timestamp) as created_at_ts"
    )
    r, _ = Engine(spark, str(proj)).build(select="inc_null")
    assert r.status_counts.get("error", 0) == 0
    rows = {(x["id"], x["label"]) for x in spark.table("eng_psmn.inc_null").collect()}
    assert rows == {(1, "dated"), (2, "updated")}


def test_ref_resolves_custom_schema_and_alias(spark, sf_dir, tmp_path):
    """A model with config(schema=..., alias=...) materializes at its own
    fqn AND every downstream ref() compiles to that same relation
    (round-2 regression: ref() used to emit default_schema.name)."""
    proj = tmp_path / "aliased"
    make_project(proj, sf_dir, schema="eng_alias")
    (proj / "models" / "staging" / "stg_orders.sql").write_text(
        "{{ config(alias='orders_staged', schema='eng_alias_alt') }}\n"
        "select o_orderkey as id, o_orderdate as created_at_ts,\n"
        "       cast(o_totalprice as decimal(18,2)) as value\n"
        "from {{ source('raw', 'orders') }}"
    )
    eng = Engine(spark, str(proj))
    results, manifest = eng.build()
    assert results.status_counts.get("error", 0) == 0

    stg = manifest.nodes["model.t.stg_orders"]
    assert stg.fqn == "eng_alias_alt.orders_staged"
    fct = manifest.nodes["model.t.fct_orders"]
    assert "eng_alias_alt.orders_staged" in fct.compiled_sql
    assert "eng_alias.stg_orders" not in fct.compiled_sql
    # the downstream mart actually read the aliased relation
    assert spark.table("eng_alias.fct_orders").count() > 0
    assert spark.table("eng_alias_alt.orders_staged").count() > 0


def test_this_honors_alias_config(spark, sf_dir, tmp_path):
    """{{ this }} must point at the node's final schema.alias."""
    from dbt_core_gcloud_template_spark.plans.compiler import compile_project
    from dbt_core_gcloud_template_spark.plans.project import load_project

    proj = tmp_path / "thisproj"
    make_project(proj, sf_dir, schema="eng_this")
    (proj / "models" / "marts" / "fct_orders.sql").write_text(
        "{{ config(alias='fct_aliased') }}\n"
        "select id, value from {{ ref('stg_orders') }}\n"
        "-- self: {{ this }}"
    )
    manifest = compile_project(load_project(str(proj)))
    fct = manifest.nodes["model.t.fct_orders"]
    assert "-- self: eng_this.fct_aliased" in fct.compiled_sql


def test_require_partition_filter_guard(spark, sf_dir, tmp_path):
    """A table materialized with require_partition_filter=true may only
    be scanned with a partition predicate (plan-inspection guard,
    SURVEY §4 — the BigQuery require_partition_filter parity check)."""
    proj = tmp_path / "rpf"
    make_project(proj, sf_dir, schema="eng_rpf")
    (proj / "models" / "staging" / "stg_orders.sql").write_text(
        "{{ config(materialized='table',\n"
        "   partition_by={'field': 'created_at_ts', 'data_type': 'timestamp',\n"
        "                 'granularity': 'month'},\n"
        "   require_partition_filter=true) }}\n"
        "select o_orderkey as id, o_orderdate as created_at_ts,\n"
        "       cast(o_totalprice as decimal(18,2)) as value\n"
        "from {{ source('raw', 'orders') }}"
    )
    # downstream full scan: must be rejected before execution
    (proj / "models" / "marts" / "fct_orders.sql").write_text(
        "select id, value from {{ ref('stg_orders') }}"
    )
    eng = Engine(spark, str(proj))
    results, _ = eng.build()
    by_id = {r.unique_id: r for r in results.results}
    assert by_id["model.t.fct_orders"].status == "error"
    assert "partition" in (by_id["model.t.fct_orders"].message or "")

    # same model WITH a partition predicate: passes
    (proj / "models" / "marts" / "fct_orders.sql").write_text(
        "select id, value from {{ ref('stg_orders') }}\n"
        "where created_at_ts_month >= date '1995-01-01'"
    )
    eng2 = Engine(spark, str(proj))
    results2, _ = eng2.build()
    by_id2 = {r.unique_id: r for r in results2.results}
    assert by_id2["model.t.fct_orders"].status == "success"
    assert spark.table("eng_rpf.fct_orders").count() > 0


def test_analyze_collects_cbo_stats(built, spark):
    """engine analyze: ANALYZE TABLE feeds rowCount/sizeInBytes into the
    catalog so the cost-based optimizer can reorder joins and pick
    broadcast sides from data."""
    eng, _, _, _ = built
    stats = eng.analyze(select="fct_orders")
    key = next(k for k in stats if k.endswith("fct_orders"))
    assert stats[key] and "rows" in stats[key]
    assert spark.conf.get("spark.sql.cbo.enabled") == "true"


def test_microbatch_replaces_lookback_partitions(spark, sf_dir, tmp_path):
    """microbatch incremental: the second run replaces only the periods
    within the lookback window; untouched history survives byte-for-byte
    (dbt 1.9 microbatch semantics, partition-aligned for Spark)."""
    proj = tmp_path / "mb"
    make_project(proj, sf_dir, schema="eng_mb")
    (proj / "models" / "marts" / "fct_orders.sql").write_text(
        "{{ config(materialized='incremental', incremental_strategy='microbatch',\n"
        "   event_time='created_at_ts', batch_size='month', lookback=1) }}\n"
        "select id, value, created_at_ts from {{ ref('stg_orders') }}"
    )
    eng = Engine(spark, str(proj))
    results, _ = eng.build()
    assert results.status_counts.get("error", 0) == 0
    tbl = "eng_mb.fct_orders"
    n_first = spark.table(tbl).count()
    periods = spark.table(tbl).select("created_at_ts_month").distinct().count()
    assert n_first > 0 and periods > 1

    # snapshot the physical partition layout: data files + mtimes per
    # created_at_ts_month=... dir (r13: the run message no longer counts
    # the replaced periods — that was one full extra job per incremental
    # run — so the lookback contract is asserted on the partition dirs
    # themselves, which is the stronger check anyway)
    import os as _os

    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    troot = _os.path.join(wh, "engine_data", "eng_mb", "fct_orders")
    def part_files():
        out = {}
        for d in _os.listdir(troot):
            if not d.startswith("created_at_ts_month="):
                continue
            pdir = _os.path.join(troot, d)
            out[d] = {
                f: _os.stat(_os.path.join(pdir, f)).st_mtime_ns
                for f in _os.listdir(pdir)
                if not f.startswith((".", "_"))
            }
        return out
    before = part_files()
    assert len(before) == periods

    # second run: idempotent (same source), same rowcount; the dynamic
    # partitionOverwriteMode override must not leak past the write
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
    eng2 = Engine(spark, str(proj))
    results2, _ = eng2.build()
    assert (
        spark.conf.get("spark.sql.sources.partitionOverwriteMode") == "static"
    )
    by_id = {r.unique_id: r for r in results2.results}
    msg = by_id["model.t.fct_orders"].message
    assert "MICROBATCH" in msg
    assert spark.table(tbl).count() == n_first

    # only watermark-month minus lookback forward is rewritten: every
    # older partition's files survive byte-for-byte (same names, same
    # mtimes); at least one partition IS rewritten (the watermark month)
    after = part_files()
    assert set(after) == set(before)
    rewritten = [d for d in sorted(before) if after[d] != before[d]]
    untouched = [d for d in sorted(before) if after[d] == before[d]]
    assert 1 <= len(rewritten) <= 2 + 1  # last month + lookback (+boundary)
    assert rewritten == sorted(before)[-len(rewritten):]  # newest months only
    assert len(untouched) == periods - len(rewritten)


def test_retry_reruns_only_failed_and_skipped(spark, sf_dir, tmp_path):
    """engine retry: after a build with a broken model, fixing the model
    and retrying runs ONLY the failed node and its skipped dependents."""
    proj = tmp_path / "rt"
    make_project(proj, sf_dir, schema="eng_rt")
    (proj / "models" / "marts" / "fct_orders.sql").write_text(
        "select id, value, no_such_column from {{ ref('stg_orders') }}"
    )
    eng = Engine(spark, str(proj))
    results, _ = eng.build()
    statuses = {r.unique_id: r.status for r in results.results}
    assert statuses["model.t.fct_orders"] == "error"

    # fix the model; retry must re-run it (and nothing green)
    (proj / "models" / "marts" / "fct_orders.sql").write_text(
        "select id, value from {{ ref('stg_orders') }}"
    )
    eng2 = Engine(spark, str(proj), state_dir=eng.state_dir)
    results2, _ = eng2.build() if False else eng2.retry()
    rerun = {r.unique_id for r in results2.results}
    assert "model.t.fct_orders" in rerun
    assert "model.t.stg_orders" not in rerun  # succeeded before: not re-run
    assert results2.status_counts.get("error", 0) == 0
    assert spark.table("eng_rt.fct_orders").count() > 0


def test_insert_overwrite_replaces_partitions(spark, sf_dir, tmp_path):
    """insert_overwrite incremental: second run dynamically overwrites
    only the partitions present in the new batch (v1 parquet tables)."""
    proj = tmp_path / "iow"
    make_project(proj, sf_dir, schema="eng_iow")
    (proj / "models" / "marts" / "fct_orders.sql").write_text(
        "{{ config(materialized='incremental',\n"
        "   incremental_strategy='insert_overwrite',\n"
        "   partition_by={'field': 'created_at_ts', 'data_type': 'timestamp',\n"
        "                 'granularity': 'month'}) }}\n"
        "select id, value, created_at_ts from {{ ref('stg_orders') }}"
    )
    eng = Engine(spark, str(proj))
    results, _ = eng.build()
    assert results.status_counts.get("error", 0) == 0
    n_first = spark.table("eng_iow.fct_orders").count()

    # dynamic-overwrite is set only for the insertInto and restored
    # after: a later static overwrite in the same session must keep
    # full-replacement semantics
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
    eng2 = Engine(spark, str(proj))
    results2, _ = eng2.build()
    by_id = {r.unique_id: r for r in results2.results}
    assert by_id["model.t.fct_orders"].status == "success"
    assert "INSERT OVERWRITE" in by_id["model.t.fct_orders"].message
    assert spark.table("eng_iow.fct_orders").count() == n_first  # idempotent
    assert (
        spark.conf.get("spark.sql.sources.partitionOverwriteMode") == "static"
    )


def test_unit_test_pass_and_gate(spark, sf_dir, tmp_path):
    """dbt 1.8 unit tests: fixture-driven model-SQL checks; a failing
    unit test gates (skips) the model build."""
    proj = tmp_path / "ut"
    make_project(proj, sf_dir, schema="eng_ut")
    (proj / "models" / "marts" / "fct_orders.yml").write_text(
        "unit_tests:\n"
        "  - name: ut_bucket_boundary\n"
        "    model: fct_orders\n"
        "    given:\n"
        "      - input: ref('stg_orders')\n"
        "        rows:\n"
        "          - {id: 1, value: 150001, created_at_ts: '1995-01-01'}\n"
        "          - {id: 2, value: 150000, created_at_ts: '1995-01-02'}\n"
        "    expect:\n"
        "      rows:\n"
        "        - {id: 1, bucket: high}\n"
        "        - {id: 2, bucket: regular}\n"
    )
    eng = Engine(spark, str(proj))
    results, manifest = eng.build()
    by_id = {r.unique_id: r for r in results.results}
    assert by_id["unit_test.t.ut_bucket_boundary"].status == "pass"
    assert by_id["model.t.fct_orders"].status == "success"

    # now make the expectation wrong: unit test fails, model is SKIPPED
    (proj / "models" / "marts" / "fct_orders.yml").write_text(
        "unit_tests:\n"
        "  - name: ut_bucket_boundary\n"
        "    model: fct_orders\n"
        "    given:\n"
        "      - input: ref('stg_orders')\n"
        "        rows:\n"
        "          - {id: 1, value: 150001, created_at_ts: '1995-01-01'}\n"
        "    expect:\n"
        "      rows:\n"
        "        - {id: 1, bucket: regular}\n"
    )
    eng2 = Engine(spark, str(proj))
    results2, _ = eng2.build()
    by_id2 = {r.unique_id: r for r in results2.results}
    assert by_id2["unit_test.t.ut_bucket_boundary"].status == "fail"
    assert by_id2["model.t.fct_orders"].status == "skipped"


def test_show_previews_rows(built):
    """dbt show parity: bounded preview of a model's result."""
    eng, _, _, _ = built
    rows = eng.show("fct_orders", limit=3)
    assert len(rows) == 3 and {"id", "value"} <= set(rows[0])


def test_clone_creates_pointer_views(spark, sf_dir, tmp_path, built):
    """dbt clone parity: pointer (view) clones of another environment's
    relations into the target schema — zero data movement."""
    eng_prod, _, manifest_prod, proj_dir = built
    proj2 = tmp_path / "cloned"
    import shutil

    shutil.copytree(proj_dir, proj2, ignore=shutil.ignore_patterns("target"))
    (proj2 / "profiles.yml").write_text(
        "t:\n  target: ci\n  outputs:\n    ci:\n      schema: eng_clone\n      threads: 4\n"
    )
    eng_ci = Engine(spark, str(proj2))
    out = eng_ci.clone(manifest_prod)
    assert any("cloned" in v for v in out.values())
    assert spark.table("eng_clone.fct_orders").count() == spark.table(
        "eng_test.fct_orders"
    ).count()
    # it's a view (pointer), not a copy
    t = [x for x in spark.catalog.listTables("eng_clone") if x.name == "fct_orders"]
    assert t and t[0].tableType == "VIEW"


def _ts_contract_project(root, parquet_path, schema):
    (root / "models" / "staging").mkdir(parents=True)
    (root / "project.yml").write_text("name: t\nprofile: t\n")
    (root / "profiles.yml").write_text(
        f"t:\n  target: dev\n  outputs:\n    dev:\n      schema: {schema}\n      threads: 2\n"
    )
    (root / "models" / "staging" / "src.yml").write_text(
        "sources:\n  - name: raw\n    schema: " + schema + "_raw\n    tables:\n"
        "      - name: events\n        external:\n"
        f"          location: {parquet_path}\n"
        "          format: parquet\n"
        "        columns:\n          - name: ts\n            data_type: timestamp\n"
    )
    (root / "models" / "staging" / "daily.sql").write_text(
        "select date(ts) as d, count(*) as n from {{ source('raw', 'events') }} group by 1"
    )
    return str(root)


@pytest.mark.parametrize("unit", ["us", "ns"])
def test_source_type_contract_normalizes_ts(spark, tmp_path, unit):
    """A source `columns: data_type` contract presents the declared type
    regardless of the parquet encoding: TIMESTAMP(MICROS) passes through,
    TIMESTAMP(NANOS) (epoch-nanos BIGINT under nanosAsLong) is converted.
    dbt parity: models never compensate for the writer's encoding."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    ts = [datetime.datetime(2024, 5, 1, 12, 0, 0), datetime.datetime(2024, 5, 2, 3, 4, 5)]
    tbl = pa.table({"ts": pa.array(ts, type=pa.timestamp(unit)), "v": [1, 2]})
    path = tmp_path / f"events_{unit}.parquet"
    pq.write_table(tbl, str(path))

    proj = _ts_contract_project(tmp_path / "proj", str(path), f"eng_tsc_{unit}")
    eng = Engine(spark, proj)
    results, _ = eng.build()
    assert results.status_counts.get("error", 0) == 0
    src = spark.table(f"eng_tsc_{unit}_raw.events")
    assert dict(src.dtypes)["ts"] == "timestamp"
    got = sorted(r.ts for r in src.collect())
    assert got == ts
    daily = {r.d.isoformat(): r.n for r in spark.table(f"eng_tsc_{unit}.daily").collect()}
    assert daily == {"2024-05-01": 1, "2024-05-02": 1}


def test_fused_gate_pass_and_precise_fallback(spark, sf_dir, tmp_path):
    """Sibling fusable tests share ONE gate scan; a clean test passes
    straight from the gate, a dirty one falls back to the precise path
    and reports the exact violation count."""
    root = tmp_path / "fuse"
    (root / "models" / "staging").mkdir(parents=True)
    (root / "project.yml").write_text("name: t\nprofile: t\n")
    (root / "profiles.yml").write_text(
        "t:\n  target: dev\n  outputs:\n    dev:\n      schema: eng_fuse\n      threads: 4\n"
    )
    (root / "models" / "staging" / "src.yml").write_text(
        "sources:\n  - name: raw\n    schema: raw_fuse\n    tables:\n"
        "      - name: orders\n        external:\n"
        f"          location: {sf_dir}/orders.parquet\n          format: parquet\n"
    )
    # o_orderstatus has 3 values; declare only 2 as accepted → fails.
    # o_orderkey is unique and not null → both pass via the gate.
    (root / "models" / "staging" / "m.sql").write_text(
        "select o_orderkey as id, o_orderstatus as st from {{ source('raw','orders') }}"
    )
    (root / "models" / "staging" / "m.yml").write_text(
        "models:\n  - name: m\n    columns:\n"
        "      - name: id\n        tests: [unique, not_null]\n"
        "      - name: st\n"
        "        tests:\n"
        "          - accepted_values:\n              values: ['O', 'F']\n"
    )
    eng = Engine(spark, str(root))
    results, _ = eng.build()
    by_uid = {r.unique_id: r for r in results.results}
    assert by_uid["test.unique_m_id"].status == "pass"
    assert by_uid["test.unique_m_id"].rows_affected == 0
    assert by_uid["test.not_null_m_id"].status == "pass"
    av = by_uid["test.accepted_values_m_st"]
    assert av.status == "fail" and av.rows_affected > 0
    # the gate scanned once for the relation, covering all 3 siblings
    assert len(eng._fused_gate.get("eng_fuse.m", {})) == 3


def test_test_severity_and_thresholds(spark, sf_dir, tmp_path):
    """dbt severity parity: severity=warn never fails the build and
    does not skip downstream nodes; error_if raises the failure bar."""
    root = tmp_path / "sev"
    (root / "models" / "staging").mkdir(parents=True)
    (root / "project.yml").write_text("name: t\nprofile: t\n")
    (root / "profiles.yml").write_text(
        "t:\n  target: dev\n  outputs:\n    dev:\n      schema: eng_sev\n      threads: 2\n"
    )
    (root / "models" / "staging" / "src.yml").write_text(
        "sources:\n  - name: raw\n    schema: raw_sev\n    tables:\n"
        "      - name: orders\n        external:\n"
        f"          location: {sf_dir}/orders.parquet\n          format: parquet\n"
    )
    (root / "models" / "staging" / "m.sql").write_text(
        "select o_orderkey as id, o_orderstatus as st from {{ source('raw','orders') }}"
    )
    # st has a value outside [O, F] -> violations exist; severity warn
    # must downgrade to 'warn'; error_if '>999999' must pass outright
    (root / "models" / "staging" / "m.yml").write_text(
        "models:\n  - name: m\n    columns:\n"
        "      - name: st\n"
        "        tests:\n"
        "          - accepted_values:\n"
        "              values: ['O', 'F']\n"
        "              config: {severity: warn}\n"
    )
    (root / "models" / "staging" / "down.sql").write_text(
        "select count(*) as n from {{ ref('m') }}"
    )
    eng = Engine(spark, str(root))
    results, _ = eng.build()
    by_uid = {r.unique_id: r for r in results.results}
    t = by_uid["test.accepted_values_m_st"]
    assert t.status == "warn" and t.rows_affected > 0
    assert by_uid["model.t.down"].status == "success"  # warn didn't block
    assert results.status_counts.get("fail", 0) == 0

    from dbt_core_gcloud_template_spark.operators.tests import threshold_status

    assert threshold_status(5, "error", "!=0", ">999") == "warn"
    assert threshold_status(1000, "error", "!=0", ">999") == "fail"
    assert threshold_status(0, "error", "!=0", "!=0") == "pass"
    assert threshold_status(7, "warn", ">5", ">0") == "warn"
    assert threshold_status(3, "warn", ">5", ">0") == "pass"


def test_seed_column_types_and_delimiter(spark, tmp_path):
    """dbt seeds config: +column_types overrides CSV inference (the
    SURVEY 7.5 seed-typing trap) and delimiter is honored."""
    root = tmp_path / "seedcfg"
    (root / "seeds").mkdir(parents=True)
    (root / "project.yml").write_text(
        "name: t\nprofile: t\nseeds:\n  t:\n    +column_types:\n"
        "      id: bigint\n      amount: decimal(18,2)\n"
    )
    (root / "profiles.yml").write_text(
        "t:\n  target: dev\n  outputs:\n    dev:\n      schema: eng_seedcfg\n      threads: 2\n"
    )
    (root / "seeds" / "pay.csv").write_text("id,amount,label\n1,10.5,a\n2,3,b\n")
    eng = Engine(spark, str(root))
    results, _ = eng.build()
    assert results.status_counts.get("error", 0) == 0
    sch = dict(spark.table("eng_seedcfg.pay").dtypes)
    assert sch["id"] == "bigint"
    assert sch["amount"] == "decimal(18,2)"
    assert sch["label"] == "string"


def test_model_pre_post_hooks(spark, sf_dir, tmp_path):
    """dbt pre-hook/post-hook parity: hook SQL runs around the node's
    materialization with `this` rendered; post-hook sees the relation."""
    root = tmp_path / "hooks"
    (root / "models" / "staging").mkdir(parents=True)
    (root / "project.yml").write_text("name: t\nprofile: t\n")
    (root / "profiles.yml").write_text(
        "t:\n  target: dev\n  outputs:\n    dev:\n      schema: eng_hooks\n      threads: 2\n"
    )
    (root / "models" / "staging" / "src.yml").write_text(
        "sources:\n  - name: raw\n    schema: raw_hooks\n    tables:\n"
        "      - name: orders\n        external:\n"
        f"          location: {sf_dir}/orders.parquet\n          format: parquet\n"
    )
    (root / "models" / "staging" / "m.sql").write_text(
        "{{ config(materialized='table',\n"
        "          pre_hook='create table if not exists eng_hooks.audit (rel string, phase string) using parquet',\n"
        "          post_hook=[\"insert into eng_hooks.audit values ('{{ this }}', 'post')\"]) }}\n"
        "select o_orderkey as id from {{ source('raw','orders') }} limit 10"
    )
    eng = Engine(spark, str(root))
    results, _ = eng.build()
    assert results.status_counts.get("error", 0) == 0
    audit = [(r.rel, r.phase) for r in spark.table("eng_hooks.audit").collect()]
    assert ("eng_hooks.m", "post") in audit


def test_ephemeral_models_inline_as_ctes(spark, sf_dir, tmp_path):
    """dbt ephemeral parity: an ephemeral model is never materialized;
    refs to it inline its SQL as a __dbt__cte__ CTE, transitively, and
    merge into the consumer's own WITH clause."""
    root = tmp_path / "eph"
    (root / "models" / "staging").mkdir(parents=True)
    (root / "project.yml").write_text("name: t\nprofile: t\n")
    (root / "profiles.yml").write_text(
        "t:\n  target: dev\n  outputs:\n    dev:\n      schema: eng_eph\n      threads: 2\n"
    )
    (root / "models" / "staging" / "src.yml").write_text(
        "sources:\n  - name: raw\n    schema: raw_eph\n    tables:\n"
        "      - name: orders\n        external:\n"
        f"          location: {sf_dir}/orders.parquet\n          format: parquet\n"
    )
    (root / "models" / "staging" / "base.sql").write_text(
        "{{ config(materialized='ephemeral') }}\n"
        "select o_orderkey as id, o_totalprice as value from {{ source('raw','orders') }}"
    )
    (root / "models" / "staging" / "mid.sql").write_text(
        "{{ config(materialized='ephemeral') }}\n"
        "select id, value * 2 as v2 from {{ ref('base') }}"
    )
    (root / "models" / "staging" / "final.sql").write_text(
        "{{ config(materialized='table') }}\n"
        "with top as (select * from {{ ref('mid') }} where v2 > 0)\n"
        "select count(*) as n, sum(v2) as total from top"
    )
    eng = Engine(spark, str(root))
    results, manifest = eng.build()
    assert results.status_counts.get("error", 0) == 0
    by_uid = {r.unique_id: r for r in results.results}
    assert by_uid["model.t.base"].message == "EPHEMERAL (inlined)"
    # no relation materialized for the ephemerals
    assert not spark.catalog.tableExists("eng_eph.base")
    assert not spark.catalog.tableExists("eng_eph.mid")
    sql = manifest.nodes["model.t.final"].compiled_sql
    assert "__dbt__cte__base" in sql and "__dbt__cte__mid" in sql
    assert sql.upper().count("WITH") == 1  # merged into one clause
    row = spark.table("eng_eph.final").collect()[0]
    assert row.n > 0 and row.total is not None


def test_merge_update_columns_partial_update(spark, sf_dir, tmp_path):
    """dbt merge_update_columns: matched rows update only the listed
    columns; others keep target values; new keys insert whole rows."""
    import shutil

    root = tmp_path / "mupd"
    proj_dir = make_project(root, sf_dir, schema="eng_mupd")
    # replace fct with an incremental model carrying merge_update_columns
    (root / "models" / "marts" / "fct_orders.sql").write_text(
        "{{ config(materialized='incremental', incremental_strategy='merge',\n"
        "          unique_key='id', merge_update_columns=['value']) }}\n"
        "select id, value, created_at_ts,\n"
        "  case when value > 150000 then 'high' else 'regular' end as bucket\n"
        "from {{ ref('stg_orders') }}"
    )
    eng = Engine(spark, proj_dir)
    r1, _ = eng.build()
    assert r1.status_counts.get("error", 0) == 0
    # poison the target's bucket column, then rebuild: value may update,
    # bucket must keep the poisoned target value (not in update list)
    spark.sql("create or replace view eng_mupd._probe as select * from eng_mupd.fct_orders")
    orig = {r.id: (r.value, r.bucket) for r in spark.table("eng_mupd.fct_orders").limit(5).collect()}
    pid = next(iter(orig))
    import pyspark.sql.functions as F

    poisoned = spark.table("eng_mupd.fct_orders").withColumn(
        "bucket", F.when(F.col("id") == pid, F.lit("POISON")).otherwise(F.col("bucket"))
    )
    eng.write_relation(poisoned, "eng_mupd.fct_orders", {}, self_ref=True)
    r2, _ = eng.build(select="fct_orders")
    assert r2.status_counts.get("error", 0) == 0
    row = spark.table("eng_mupd.fct_orders").filter(F.col("id") == pid).collect()[0]
    assert row.bucket == "POISON"           # excluded from update
    assert row.value == orig[pid][0]         # updated from source (same value)
    shutil.rmtree(str(root), ignore_errors=True)


def test_full_refresh_false_protects_table(spark, sf_dir, tmp_path):
    root = tmp_path / "nofr"
    proj_dir = make_project(root, sf_dir, schema="eng_nofr")
    (root / "models" / "marts" / "fct_orders.sql").write_text(
        "{{ config(materialized='incremental', incremental_strategy='append',\n"
        "          full_refresh=false) }}\n"
        "select id, value from {{ ref('stg_orders') }}"
    )
    eng = Engine(spark, proj_dir)
    r1, _ = eng.build()
    n1 = spark.table("eng_nofr.fct_orders").count()
    # --full-refresh would normally CTAS from scratch; full_refresh=false
    # keeps the incremental path (append doubles the rows)
    r2, _ = eng.build(select="fct_orders", full_refresh=True)
    assert r2.status_counts.get("error", 0) == 0
    assert spark.table("eng_nofr.fct_orders").count() == 2 * n1


def test_python_model_end_to_end(spark, sf_dir, tmp_path):
    """dbt Python-model parity (dbt 1.3): models/*.py defining
    model(dbt, session) compile into the DAG via static dbt.ref/source
    discovery and materialize through the normal table path."""
    root = tmp_path / "pymodel"
    proj_dir = make_project(root, sf_dir, schema="eng_py")
    (root / "models" / "marts" / "py_enriched.py").write_text(
        "from pyspark.sql import functions as F\n\n\n"
        "def model(dbt, session):\n"
        "    dbt.config(materialized='table')\n"
        "    stg = dbt.ref('stg_orders')\n"
        "    raw = dbt.source('raw', 'orders')\n"
        "    n_raw = raw.count()\n"
        "    return (stg.groupBy((F.col('value') > 150000).alias('is_high'))\n"
        "            .agg(F.count('*').alias('n'))\n"
        "            .withColumn('n_raw', F.lit(n_raw)))\n"
    )
    eng = Engine(spark, proj_dir)
    results, manifest = eng.build()
    assert results.status_counts.get("error", 0) == 0
    node = manifest.nodes["model.t.py_enriched"]
    assert node.config["language"] == "python"
    assert set(node.depends_on) == {"model.t.stg_orders", "source.raw.orders"}
    rows = spark.table("eng_py.py_enriched").collect()
    assert sum(r.n for r in rows) == rows[0].n_raw  # every order bucketed
    # python models appear in selection like any node
    assert "model.t.py_enriched" in manifest.select("stg_orders+")


def test_dbt_utils_tests_and_surrogate_key(spark, sf_dir, tmp_path):
    """expression_is_true / not_accepted_values tests and the
    generate_surrogate_key macro."""
    root = tmp_path / "utils2"
    proj_dir = make_project(root, sf_dir, schema="eng_u2")
    (root / "models" / "marts" / "fct_orders.sql").write_text(
        "select {{ dbt_utils.generate_surrogate_key(['id', 'created_at_ts']) }} as sk,\n"
        "       id, value from {{ ref('stg_orders') }}"
    )
    (root / "models" / "marts" / "fct_orders.yml").write_text(
        "models:\n  - name: fct_orders\n"
        "    tests:\n"
        "      - expression_is_true:\n          expression: 'value >= 0'\n"
        "      - expression_is_true:\n          expression: 'value > 200000'\n"
        "          config: {severity: warn}\n"
        "    columns:\n"
        "      - name: sk\n        tests: [unique, not_null]\n"
    )
    eng = Engine(spark, proj_dir)
    results, _ = eng.build()
    by = {r.unique_id: r for r in results.results}
    assert results.status_counts.get("error", 0) == 0
    # surrogate key is a 32-char md5 and unique per row
    assert by["test.unique_fct_orders_sk"].status == "pass"
    assert by["test.not_null_fct_orders_sk"].status == "pass"
    assert by["test.expression_is_true_fct_orders_model"].status == "pass"
    # duplicate test type on the same model gets its own suffixed node
    assert by["test.expression_is_true_fct_orders_model_2"].status == "warn"
    row = spark.table("eng_u2.fct_orders").limit(1).collect()[0]
    assert len(row.sk) == 32


def test_model_contract_enforced(spark, sf_dir, tmp_path):
    """dbt model contracts: declared columns + data_types must match
    the model's analyzed schema exactly; violations fail pre-flight."""
    root = tmp_path / "contract"
    proj_dir = make_project(root, sf_dir, schema="eng_ct")
    (root / "models" / "marts" / "fct_orders.yml").write_text(
        "models:\n  - name: fct_orders\n"
        "    config: {contract: {enforced: true}}\n"
        "    columns:\n"
        "      - name: id\n        data_type: bigint\n"
        "      - name: value\n        data_type: decimal(18,2)\n"
        "      - name: created_at_ts\n        data_type: timestamp\n"
        "      - name: bucket\n        data_type: string\n"
    )
    eng = Engine(spark, proj_dir)
    results, _ = eng.build()
    by = {r.unique_id: r for r in results.results}
    r = by["model.t.fct_orders"]
    # created_at_ts is a timestamp (o_orderdate passthrough) -> holds
    assert r.status == "success", r.message

    # now declare a wrong type -> pre-flight failure, nothing written
    (root / "models" / "marts" / "fct_orders.yml").write_text(
        "models:\n  - name: fct_orders\n"
        "    config: {contract: {enforced: true}}\n"
        "    columns:\n"
        "      - name: id\n        data_type: string\n"
        "      - name: value\n        data_type: decimal(18,2)\n"
        "      - name: created_at_ts\n        data_type: timestamp\n"
        "      - name: bucket\n        data_type: string\n"
    )
    eng2 = Engine(spark, proj_dir)
    results2, _ = eng2.build(select="fct_orders")
    r2 = {r.unique_id: r for r in results2.results}["model.t.fct_orders"]
    assert r2.status == "error" and "contract violation" in r2.message
    assert "id: bigint != declared string" in r2.message


def test_delete_insert_strategy_aliases_merge(spark, sf_dir, tmp_path):
    root = tmp_path / "delins"
    proj_dir = make_project(root, sf_dir, schema="eng_di")
    (root / "models" / "marts" / "fct_orders.sql").write_text(
        "{{ config(materialized='incremental', incremental_strategy='delete+insert',\n"
        "          unique_key='id') }}\n"
        "select id, value from {{ ref('stg_orders') }}"
    )
    eng = Engine(spark, proj_dir)
    r1, _ = eng.build()
    n1 = spark.table("eng_di.fct_orders").count()
    r2, _ = eng.build(select="fct_orders")  # incremental rerun: same keys replaced
    assert r2.status_counts.get("error", 0) == 0
    assert spark.table("eng_di.fct_orders").count() == n1


def test_optimize_compacts_partitioned_table(spark, sf_dir, tmp_path):
    """OPTIMIZE parity: compaction rewrites the small-file spray into
    ~one file per partition, preserving partitioning, row counts, and
    honoring zorder re-sort."""
    root = tmp_path / "opt"
    proj_dir = make_project(root, sf_dir, schema="eng_opt")
    (root / "models" / "marts" / "fct_orders.sql").write_text(
        "{{ config(materialized='table',\n"
        "          partition_by={'field': 'created_at_ts', 'data_type': 'timestamp'}) }}\n"
        "select id, value, created_at_ts from {{ ref('stg_orders') }}"
    )
    eng = Engine(spark, proj_dir)
    r1, _ = eng.build()
    assert r1.status_counts.get("error", 0) == 0
    n_before = spark.table("eng_opt.fct_orders").count()
    stats = eng.optimize("eng_opt.fct_orders", zorder=["id"])
    assert stats["files_after"] <= stats["files_before"]
    assert stats["files_after"] > 0
    assert spark.table("eng_opt.fct_orders").count() == n_before
    # partitioning survived the rewrite
    entry = eng._catalog["eng_opt.fct_orders"]
    assert entry["partition_cols"] == ["created_at_ts_day"]
    # a FULL REBUILD after optimize must keep working: the live table
    # sits at a versioned location post-swap, and a write computed from
    # the conventional path would hit Spark's location-mismatch error
    # (r11 fix: writes default to the catalog-recorded location)
    r2, _ = eng.build(select="fct_orders")
    assert r2.status_counts.get("error", 0) == 0, [
        (r.unique_id, r.message) for r in r2.results if r.status == "error"
    ]
    assert spark.table("eng_opt.fct_orders").count() == n_before


def test_append_after_optimize_keeps_catalog_and_vacuum_safe(spark, sf_dir, tmp_path):
    """r12 regression (r11 advice, high): after optimize swaps a table
    to a ``__v<hex>`` location, an incremental APPEND must both write
    to AND re-record that catalog location.  Before the fix the append
    wrote into ``__vX`` but re-recorded the conventional (nonexistent)
    path, so vacuum() saw ``__vX`` as unreferenced and deleted the live
    table's data, and a catalog restore recreated the table over an
    empty directory."""
    import os

    root = tmp_path / "optapp"
    proj_dir = make_project(root, sf_dir, schema="eng_optapp")
    (root / "models" / "marts" / "fct_orders.sql").write_text(
        "{{ config(materialized='incremental', incremental_strategy='append') }}\n"
        "select id, value from {{ ref('stg_orders') }}"
    )
    eng = Engine(spark, proj_dir)
    r1, _ = eng.build()
    assert r1.status_counts.get("error", 0) == 0
    n1 = spark.table("eng_optapp.fct_orders").count()
    eng.optimize("eng_optapp.fct_orders")
    live = eng._catalog["eng_optapp.fct_orders"]["location"]
    assert "__v" in os.path.basename(live)  # swap happened
    # incremental append lands in the live (versioned) dir AND the
    # catalog keeps pointing there
    r2, _ = eng.build(select="fct_orders")
    assert r2.status_counts.get("error", 0) == 0, [
        (r.unique_id, r.message) for r in r2.results if r.status == "error"
    ]
    assert eng._catalog["eng_optapp.fct_orders"]["location"] == live
    assert spark.table("eng_optapp.fct_orders").count() == 2 * n1
    # vacuum must NOT touch the referenced live dir
    out = eng.vacuum(schema="eng_optapp")
    assert os.path.realpath(live) not in {
        os.path.realpath(p) for p in out["removed"]
    }
    assert os.path.isdir(live)
    # a fresh session restore sees the appended data and can append again
    spark.sql("DROP TABLE IF EXISTS eng_optapp.fct_orders")
    eng3 = Engine(spark, proj_dir)
    assert spark.table("eng_optapp.fct_orders").count() == 2 * n1
    r3, _ = eng3.build(select="fct_orders")
    assert r3.status_counts.get("error", 0) == 0
    assert spark.table("eng_optapp.fct_orders").count() == 3 * n1


def test_vacuum_removes_orphan_version_dirs(spark, built):
    eng, _, _, _ = built
    import os

    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    sdir = os.path.join(wh, "engine_data", "eng_test")
    os.makedirs(os.path.join(sdir, "fct_orders__vdeadbeef"), exist_ok=True)
    os.makedirs(os.path.join(sdir, "zzz__stg"), exist_ok=True)
    out = eng.vacuum(schema="eng_test")
    names = {os.path.basename(p) for p in out["removed"]}
    assert {"fct_orders__vdeadbeef", "zzz__stg"} <= names
    # current locations survive
    assert spark.table("eng_test.fct_orders").count() > 0


def test_freshness_filter_scopes_scan(spark, sf_dir):
    from dbt_core_gcloud_template_spark.operators.tests import freshness_check

    from dbt_core_gcloud_template_spark.sources.registry import load_table

    load_table(spark, sf_dir, "orders").createOrReplaceTempView("_fr_orders")
    full = freshness_check(spark, "_fr_orders", "o_orderdate", {"count": 24, "period": "hour"}, None)
    scoped = freshness_check(
        spark, "_fr_orders", "o_orderdate", {"count": 24, "period": "hour"}, None,
        filter_sql="o_orderstatus = 'F'",
    )
    # 'F' (old) orders have an older max than the full table
    assert scoped["max_loaded_at"] <= full["max_loaded_at"]


def test_empty_build_schema_only(spark, sf_dir, tmp_path):
    """dbt --empty parity: models run with LIMIT 0 — relations exist
    with full schemas but zero rows; contracts still enforce."""
    root = tmp_path / "emptyb"
    proj_dir = make_project(root, sf_dir, schema="eng_empty")
    eng = Engine(spark, proj_dir)
    results, _ = eng.build(empty=True)
    assert results.status_counts.get("error", 0) == 0
    t = spark.table("eng_empty.fct_orders")
    assert t.count() == 0
    assert {"id", "value", "bucket"} <= set(t.columns)


def test_init_scaffold_builds_green(spark, sf_dir, tmp_path, monkeypatch):
    """`engine init` scaffolds the reference-template layout and the
    result builds green immediately."""
    import os

    from dbt_core_gcloud_template_spark.cli import main as cli_main

    proj = tmp_path / "fresh_proj"
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", sf_dir)
    assert cli_main(["init", "--project-dir", str(proj)]) == 0
    assert (proj / "project.yml").exists()
    assert cli_main(["init", "--project-dir", str(proj)]) == 2  # refuses overwrite
    # patch profile schema to avoid clobbering analytics_dev used by bench
    prof = (proj / "profiles.yml").read_text().replace("analytics_dev", "eng_init")
    (proj / "profiles.yml").write_text(prof)
    eng = Engine(spark, str(proj))
    results, _ = eng.build()
    assert results.status_counts.get("error", 0) == 0
    assert spark.table("eng_init.fct_example").count() > 0


def test_tests_on_source_columns(spark, sf_dir, tmp_path):
    """dbt source-column tests run against the raw feed itself."""
    root = tmp_path / "srctests"
    (root / "models" / "staging").mkdir(parents=True)
    (root / "project.yml").write_text("name: t\nprofile: t\n")
    (root / "profiles.yml").write_text(
        "t:\n  target: dev\n  outputs:\n    dev:\n      schema: eng_st\n      threads: 2\n"
    )
    (root / "models" / "staging" / "src.yml").write_text(
        "sources:\n  - name: raw\n    schema: raw_st\n    tables:\n"
        "      - name: orders\n        external:\n"
        f"          location: {sf_dir}/orders.parquet\n          format: parquet\n"
        "        columns:\n"
        "          - name: o_orderkey\n            tests: [unique, not_null]\n"
        "          - name: o_orderstatus\n"
        "            tests:\n"
        "              - accepted_values:\n                  values: ['O', 'X']\n"
    )
    (root / "models" / "staging" / "m.sql").write_text(
        "select o_orderkey as id from {{ source('raw','orders') }}"
    )
    eng = Engine(spark, str(root))
    results, manifest = eng.build()
    by = {r.unique_id: r for r in results.results}
    assert by["test.unique_raw_orders_o_orderkey"].status == "pass"
    assert by["test.not_null_raw_orders_o_orderkey"].status == "pass"
    av = by["test.accepted_values_raw_orders_o_orderstatus"]
    assert av.status == "fail" and av.rows_affected > 0  # 'F'/'P' not accepted
    assert by["model.t.m"].status == "success"  # source tests don't gate models


def test_show_inline_renders_refs(spark, built):
    eng, _, _, _ = built
    rows = eng.show_inline(
        "select count(*) as n from {{ ref('stg_orders') }} "
        "where id in (select o_orderkey from {{ source('raw','orders') }})",
        limit=3,
    )
    assert rows and rows[0]["n"] > 0


def test_saved_selectors_yaml(spark, sf_dir, tmp_path):
    """selectors.yml: named definitions (union/intersection/method
    leaves with graph operators) resolve through Manifest.select; the
    default selector applies when nothing is passed."""
    proj_dir = make_project(tmp_path, sf_dir, schema="eng_sel")
    (tmp_path / "selectors.yml").write_text(
        "selectors:\n"
        "  - name: staging_up\n"
        "    definition:\n"
        "      method: fqn\n"
        "      value: stg_orders\n"
        "      children: true\n"
        "  - name: marts_only\n"
        "    default: true\n"
        "    definition:\n"
        "      union:\n"
        "        - method: fqn\n"
        "          value: fct_orders\n"
        "        - exclude:\n"
        "            - method: fqn\n"
        "              value: stg_orders\n"
    )
    from dbt_core_gcloud_template_spark.plans.runner import Engine

    eng = Engine(spark, proj_dir)
    assert set(eng.project.selectors) == {"staging_up", "marts_only"}
    manifest = eng.compile()
    up = manifest.select(eng.project.selectors["staging_up"]["definition"])
    assert "model.t.stg_orders" in up and "model.t.fct_orders" in up
    assert "seed.t.tiny_seed" not in up
    d = manifest.select(eng.project.default_selector())
    assert d == {"model.t.fct_orders"}
    # string shorthand definitions also work
    assert manifest.select("stg_orders+") == up


def test_fail_fast_skips_unsubmitted_nodes(spark, tmp_path):
    """--fail-fast: after the first error, queued/unscheduled nodes are
    skipped with an explicit fail-fast message (single-thread pool so
    the failing node completes before the independent one starts)."""
    root = tmp_path / "ffproj"
    (root / "models").mkdir(parents=True)
    (root / "project.yml").write_text("name: ff\nprofile: ff\n")
    (root / "profiles.yml").write_text(
        "ff:\n  target: dev\n  outputs:\n    dev:\n      schema: eng_ff\n      threads: 1\n"
    )
    (root / "models" / "a_fail.sql").write_text("select broken syntax !!!")
    (root / "models" / "z_ok.sql").write_text("select 1 as id")
    from dbt_core_gcloud_template_spark.plans.runner import Engine

    eng = Engine(spark, str(root), state_dir=str(tmp_path / "ffstate"))
    results, _ = eng.build(fail_fast=True)
    by = {r.unique_id: r for r in results.results}
    assert by["model.ff.a_fail"].status == "error"
    assert by["model.ff.z_ok"].status == "skipped"
    assert by["model.ff.z_ok"].message == "fail-fast abort"
    # without fail-fast the independent model builds fine
    results2, _ = eng.build()
    by2 = {r.unique_id: r for r in results2.results}
    assert by2["model.ff.z_ok"].status == "success"


def test_partition_pruning_on_materialized_fact(spark, sf_dir, tmp_path):
    """S6 at scale: a date filter on the partitioned mart prunes
    partitions at planning time (the 100 TB reason partition_by
    exists) — the scan's partition count must be far below the
    table's."""
    proj_dir = make_project(
        tmp_path, sf_dir, schema="eng_prune",
        fct_sql=(
            "{{ config(materialized='table', partition_by={'field': "
            "'created_at_ts', 'data_type': 'timestamp'}) }}\n"
            "select id, value, created_at_ts from {{ ref('stg_orders') }}"
        ),
    )
    from dbt_core_gcloud_template_spark.plans.runner import Engine

    eng = Engine(spark, proj_dir, state_dir=str(tmp_path / "state"))
    results, _ = eng.build()
    assert results.status_counts.get("error", 0) == 0
    tbl = spark.table("eng_prune.fct_orders")
    n_parts = tbl.select("created_at_ts_day").distinct().count()
    assert n_parts > 10
    first_day = tbl.agg({"created_at_ts_day": "min"}).collect()[0][0]
    one_day = tbl.filter(f"created_at_ts_day = DATE '{first_day}'")
    import contextlib
    import io
    import re as _re

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        one_day.explain("formatted")
    plan = buf.getvalue()
    # the filter must reach the scan as a PartitionFilter, and the scan
    # must touch a pruned subset, not all n_parts partitions
    assert _re.search(r"PartitionFilters.*created_at_ts_day", plan)
    m = _re.search(r"partition count: (\d+)", plan.lower())
    if m:
        assert int(m.group(1)) <= 2


def test_export_verb_jsonl_and_csv(spark, tmp_path):
    """`engine export` hands a relation off as JSONL/CSV (the
    training-data export sink): distributed write, row-count echoed."""
    import json as _json

    from dbt_core_gcloud_template_spark.cli import main as cli_main

    spark.sql("CREATE DATABASE IF NOT EXISTS eng_exp")
    spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "id long, s string"
    ).write.mode("overwrite").saveAsTable("eng_exp.t")
    out = tmp_path / "out_jsonl"
    rc = cli_main(["export", "--table", "eng_exp.t", "--path", str(out),
                   "--format", "jsonl"])
    assert rc == 0
    back = spark.read.json(str(out))
    assert back.count() == 3 and set(back.columns) == {"id", "s"}
    out2 = tmp_path / "out_csv"
    assert cli_main(["export", "--table", "eng_exp.t", "--path", str(out2),
                     "--format", "csv", "--limit", "2"]) == 0
    assert spark.read.option("header", True).csv(str(out2)).count() == 2


def test_sample_mode_windows_refs_and_sources(spark, sf_dir, tmp_path):
    """dbt 1.10 sample mode: --sample windows source()/ref() relations
    declaring event_time; without it the full history builds."""
    root = tmp_path / "sampleproj"
    (root / "models").mkdir(parents=True)
    (root / "project.yml").write_text("name: smp\nprofile: smp\n")
    (root / "profiles.yml").write_text(
        "smp:\n  target: dev\n  outputs:\n    dev:\n      schema: eng_smp\n      threads: 2\n"
    )
    (root / "models" / "src.yml").write_text(
        f"""sources:
  - name: raw
    schema: raw
    tables:
      - name: events
        event_time: ts
        external:
          location: "{sf_dir}/events.parquet"
          format: parquet
        columns:
          - name: ts
            data_type: timestamp
"""
    )
    (root / "models" / "stg_ev.sql").write_text(
        "{{ config(materialized='table', event_time='ts') }}\n"
        "select * from {{ source('raw', 'events') }}\n"
    )
    (root / "models" / "ev_counts.sql").write_text(
        "select count(*) as n from {{ ref('stg_ev') }}\n"
    )
    # name-qualified columns must keep resolving under --sample (the
    # sampled subquery is aliased with the relation's bare name)
    (root / "models" / "ev_joined.sql").write_text(
        "select count(*) as n\n"
        "from {{ ref('stg_ev') }} join {{ ref('ev_counts') }}\n"
        "  on stg_ev.user_id is not null and ev_counts.n >= 0\n"
    )
    # user-supplied aliases (explicit AS and bare) must suppress the
    # engine's bare-name alias — `(SELECT ...) stg_ev AS e` is a parse
    # error, and a self-join of one ref'd model would otherwise emit
    # duplicate aliases
    (root / "models" / "ev_aliased.sql").write_text(
        "select count(*) as n\n"
        "from {{ ref('stg_ev') }} AS e join {{ ref('stg_ev') }} f\n"
        "  on e.user_id = f.user_id\n"
        "join {{ source('raw', 'events') }} s on s.user_id = e.user_id\n"
    )
    spark.sql("DROP DATABASE IF EXISTS eng_smp CASCADE")
    full_results, _ = Engine(spark, str(root), state_dir=str(tmp_path / "s1")).build()
    assert full_results.status_counts.get("error", 0) == 0
    n_full = spark.table("eng_smp.ev_counts").collect()[0]["n"]
    assert n_full > 0  # full history

    # events ts values are in 2024 — any recent trailing window is empty
    spark.sql("DROP DATABASE IF EXISTS eng_smp CASCADE")
    smp_results, manifest = Engine(
        spark, str(root), state_dir=str(tmp_path / "s2")
    ).build(sample="1 days")
    assert smp_results.status_counts.get("error", 0) == 0
    assert spark.table("eng_smp.stg_ev").count() == 0  # source windowed
    assert spark.table("eng_smp.ev_counts").collect()[0]["n"] == 0  # ref windowed
    assert spark.table("eng_smp.ev_joined").collect()[0]["n"] == 0
    sql = manifest.nodes["model.smp.ev_counts"].compiled_sql
    # one literal anchor captured at compile time (NOT per-statement
    # current_timestamp(), which would cut a different window per model)
    assert "- INTERVAL '1 days'" in sql and "TIMESTAMP '" in sql
    sql2 = manifest.nodes["model.smp.ev_joined"].compiled_sql
    assert sql[sql.index("TIMESTAMP '"):].split("'")[1] == (
        sql2[sql2.index("TIMESTAMP '"):].split("'")[1]
    )  # same anchor across models
    assert ") stg_ev" in sql2  # sampled subquery aliased with bare name
    assert spark.table("eng_smp.ev_aliased").collect()[0]["n"] == 0
    sql3 = manifest.nodes["model.smp.ev_aliased"].compiled_sql
    assert ") AS e" in sql3 and ") f" in sql3 and ") s" in sql3
    assert ") stg_ev" not in sql3 and ") events" not in sql3


def test_invocation_python_hooks(spark, sf_dir, tmp_path):
    """Reference entrypoint parity: hooks/pre_run.py runs before the
    build, hooks/post_run.py after with the run outcome in
    SPARK_GRAFT_RUN_STATUS; a failing hook never fails the build."""
    proj = tmp_path / "hookproj"
    make_project(proj, sf_dir, schema="eng_hooks")
    (proj / "hooks").mkdir()
    (proj / "hooks" / "pre_run.py").write_text(
        "open('pre_ran.txt', 'w').write('1')\n"
    )
    (proj / "hooks" / "post_run.py").write_text(
        "import os\n"
        "open('post_ran.txt', 'w').write(os.environ['SPARK_GRAFT_RUN_STATUS'])\n"
        "raise SystemExit(3)\n"  # hook failure must not fail the build
    )
    results, _ = Engine(spark, str(proj)).build()
    assert results.status_counts.get("error", 0) == 0
    assert (proj / "pre_ran.txt").exists()
    assert (proj / "post_ran.txt").read_text() == "0"


def test_model_governance_groups_and_access(spark, sf_dir, tmp_path):
    """dbt 1.5 model governance: a private model refuses refs from
    outside its group; same-group and public refs compile; undeclared
    groups are a compile error."""
    proj = tmp_path / "gov"
    make_project(proj, sf_dir, schema="eng_gov")
    (proj / "project.yml").write_text(
        "name: t\nprofile: t\n"
        "groups:\n  - name: finance\n    owner: {name: fin-team}\n"
        "models:\n  staging:\n    +materialized: view\n"
        "  marts:\n    +materialized: table\n"
    )
    (proj / "models" / "marts" / "fct_orders.sql").write_text(
        "{{ config(group='finance', access='private') }}\n"
        "select id, value from {{ ref('stg_orders') }}"
    )
    (proj / "models" / "marts" / "outsider.sql").write_text(
        "select * from {{ ref('fct_orders') }}"
    )
    with pytest.raises(CompilerError, match="private"):
        Engine(spark, str(proj)).compile()

    # same group: allowed
    (proj / "models" / "marts" / "outsider.sql").write_text(
        "{{ config(group='finance') }}\nselect * from {{ ref('fct_orders') }}"
    )
    m = Engine(spark, str(proj)).compile()
    assert "model.t.outsider" in m.nodes

    # public: anyone may ref
    (proj / "models" / "marts" / "fct_orders.sql").write_text(
        "{{ config(group='finance', access='public') }}\n"
        "select id, value from {{ ref('stg_orders') }}"
    )
    (proj / "models" / "marts" / "outsider.sql").write_text(
        "select * from {{ ref('fct_orders') }}"
    )
    Engine(spark, str(proj)).compile()

    # undeclared group
    (proj / "models" / "marts" / "fct_orders.sql").write_text(
        "{{ config(group='nonexistent') }}\n"
        "select id, value from {{ ref('stg_orders') }}"
    )
    with pytest.raises(CompilerError, match="not declared"):
        Engine(spark, str(proj)).compile()


def test_docs_server_serves_generated_html(tmp_path):
    """S17: the docs-viewer analog serves the generated artifact dir
    over HTTP with the viewer's Cache-Control header."""
    import urllib.request

    from dbt_core_gcloud_template_spark.plans.docs import serve_docs

    (tmp_path / "index.html").write_text("<html><body>docs here</body></html>")
    server = serve_docs(str(tmp_path), port=0)
    try:
        host, port = server.server_address[:2]
        with urllib.request.urlopen(f"http://{host}:{port}/index.html") as r:
            assert r.status == 200
            assert b"docs here" in r.read()
            assert r.headers["Cache-Control"] == "public, max-age=60"
    finally:
        server.shutdown()


def test_docs_serve_rejects_uri_state_dir(spark, sf_dir, tmp_path):
    """docs --serve with a URI state dir (memory:// etc.) must fail
    fast with a clear message — http.server has no filesystem path to
    serve — instead of crashing inside SimpleHTTPRequestHandler."""
    from dbt_core_gcloud_template_spark.cli import main as cli_main

    proj = tmp_path / "docsuri"
    make_project(proj, sf_dir, schema="eng_docsuri")
    rc = cli_main([
        "docs", "--serve", "--project-dir", str(proj),
        "--target-path", "memory://docsuri/state",
    ])
    assert rc == 2


def test_monitor_alert_policies(spark, sf_dir, tmp_path):
    """A8 analog: monitor evaluates count>0 alert policies over the
    run artifacts — node errors + run failure + freshness + bytes
    threshold — and writes alerts.json; a clean run raises nothing."""
    import json as _json

    from dbt_core_gcloud_template_spark.plans.monitor import evaluate_alerts

    proj = tmp_path / "monproj"
    make_project(proj, sf_dir, schema="eng_mon")
    state = str(tmp_path / "state")
    eng = Engine(spark, str(proj), state_dir=state)
    results, _ = eng.build()
    assert results.status_counts.get("error", 0) == 0
    eng.source_freshness()  # sources.json: driver data is stale -> warn/error
    alerts = evaluate_alerts(state)
    # the build is green: no node-errors / run-failure policies fire
    assert not [a for a in alerts if a["policy"] in ("node-errors", "run-failure")]
    # the fixture source declares warn_after 24h against 1990s data
    assert any(a["policy"] == "source-freshness" for a in alerts)
    assert os.path.exists(os.path.join(state, "alerts.json"))

    # break a model -> node-errors + run-failure fire
    (proj / "models" / "marts" / "fct_orders.sql").write_text(
        "select no_such_column from {{ ref('stg_orders') }}"
    )
    r2, _ = Engine(spark, str(proj), state_dir=state).build()
    assert r2.status_counts.get("error", 0) >= 1
    alerts2 = evaluate_alerts(state, max_input_bytes=1)
    policies = {a["policy"] for a in alerts2}
    assert {"node-errors", "run-failure", "bytes-scanned"} <= policies
    with open(os.path.join(state, "alerts.json")) as f:
        assert _json.load(f) == alerts2

    # fence-tripped: a node whose fences record dropped work fires a
    # warn; armed-but-untripped fences (fenced_groups=0) stay silent
    with open(os.path.join(state, "run_results.json")) as f:
        rr = _json.load(f)
    rr["results"][0]["fences"] = [
        {"operator": "lsh_candidate_pairs", "fence": "max_bucket_size",
         "fenced_groups": 0, "fenced_rows": 0},
    ]
    rr["results"][-1]["fences"] = [
        {"operator": "semdedup", "fence": "max_cluster_size",
         "fenced_groups": 2, "fenced_rows": 48213},
    ]
    with open(os.path.join(state, "run_results.json"), "w") as f:
        _json.dump(rr, f)
    alerts3 = evaluate_alerts(state)
    fence_alerts = [a for a in alerts3 if a["policy"] == "fence-tripped"]
    assert len(fence_alerts) == 1
    assert fence_alerts[0]["subject"] == rr["results"][-1]["unique_id"]
    assert "semdedup.max_cluster_size: 2 group(s), 48213 row(s)" in (
        fence_alerts[0]["message"]
    )

    # recall-degraded (r8 verdict #3): a reported *recall* metric below
    # the floor warns; None (undefined) and healthy values stay silent;
    # without a floor the policy never evaluates
    # the name match is the strict convention ("recall" or "*_recall"),
    # not a substring: a COUNTER metric that merely mentions recall
    # (recall_pairs_checked=0, below any ratio floor) must not be
    # thresholded against a 0..1 floor, and an out-of-range "*_recall"
    # value is not a ratio either — both stay silent
    rr["results"][0]["metrics"] = {
        "lsh_recall": 0.42,
        "lsh_precision": None,
        "recall_pairs_checked": 0.0,
    }
    rr["results"][-1]["metrics"] = {
        "semantic_recall": 0.99,
        "broken_recall": -2.0,
    }
    with open(os.path.join(state, "run_results.json"), "w") as f:
        _json.dump(rr, f)
    alerts4 = evaluate_alerts(state, min_recall=0.8)
    rec = [a for a in alerts4 if a["policy"] == "recall-degraded"]
    assert len(rec) == 1
    assert rec[0]["subject"] == rr["results"][0]["unique_id"]
    assert rec[0]["severity"] == "warn"
    assert "lsh_recall=0.42" in rec[0]["message"]
    assert not [
        a for a in evaluate_alerts(state)
        if a["policy"] == "recall-degraded"
    ]

    # classifier-degraded (r10): the quality-tier twin — same strict
    # naming ("auc"/"*_auc") and 0..1 range conventions; counter
    # metrics carrying "auc" in the middle of the name and
    # out-of-range values stay silent, and the recall floor never
    # thresholds auc metrics (or vice versa)
    rr["results"][0]["metrics"] = {
        "quality_auc": 0.51,
        "quality_auc_n_pos": 193.0,
        "auc_pairs_checked": 0.0,
    }
    rr["results"][-1]["metrics"] = {"other_auc": 1.7}
    with open(os.path.join(state, "run_results.json"), "w") as f:
        _json.dump(rr, f)
    alerts5 = evaluate_alerts(state, min_auc=0.7, min_recall=0.99)
    auc = [a for a in alerts5 if a["policy"] == "classifier-degraded"]
    assert len(auc) == 1
    assert auc[0]["subject"] == rr["results"][0]["unique_id"]
    assert auc[0]["severity"] == "warn"
    assert "quality_auc=0.51" in auc[0]["message"]
    assert not [
        a for a in alerts5 if a["policy"] == "recall-degraded"
    ]
    assert not [
        a for a in evaluate_alerts(state)
        if a["policy"] == "classifier-degraded"
    ]

    # drift-degraded (r10): the data-distribution leg is a CEILING —
    # a *psi* metric ABOVE max_psi warns (bigger is worse for PSI).
    # Same strict naming ("psi"/"*_psi"); PSI is unbounded above, so a
    # large value is a valid (alarming) reading while a negative one
    # is not a PSI at all; the floors never threshold psi metrics and
    # the ceiling never thresholds recall/auc
    rr["results"][0]["metrics"] = {
        "chars_psi": 0.31,
        "psi_buckets_checked": 9.0,
        "digit_ratio_psi": 0.02,
    }
    rr["results"][-1]["metrics"] = {"broken_psi": -0.5, "huge_psi": 7.3}
    with open(os.path.join(state, "run_results.json"), "w") as f:
        _json.dump(rr, f)
    alerts6 = evaluate_alerts(state, max_psi=0.25, min_recall=0.99)
    drift = [a for a in alerts6 if a["policy"] == "drift-degraded"]
    assert len(drift) == 2
    assert "chars_psi=0.31" in drift[0]["message"]
    assert "above the 0.25 ceiling" in drift[0]["message"]
    assert "huge_psi=7.3" in drift[1]["message"]
    assert not [a for a in alerts6 if a["policy"] == "recall-degraded"]
    assert not [
        a for a in evaluate_alerts(state)
        if a["policy"] == "drift-degraded"
    ]


def test_artifact_uri_state_roundtrip_memory(spark, sf_dir, tmp_path):
    """Artifacts round-trip through an object-store-style URI (the
    entrypoint.sh gs:// upload / ci_build.sh download analog): a build
    with a memory:// state dir writes manifest/run_results there, and a
    second engine reads that URI as prior state for state:modified+
    selection."""
    from dbt_core_gcloud_template_spark.plans import arturi
    from dbt_core_gcloud_template_spark.plans.manifest import Manifest

    proj = tmp_path / "uriproj"
    make_project(proj, sf_dir, schema="eng_uri")
    state = "memory://ci/prod"
    eng = Engine(spark, str(proj), state_dir=state)
    results, _ = eng.build()
    assert results.status_counts.get("error", 0) == 0
    assert arturi.exists("memory://ci/prod/manifest.json")
    assert arturi.exists("memory://ci/prod/run_results.json")

    prior = Manifest.read("memory://ci/prod/manifest.json")
    assert any(u.startswith("model.") for u in prior.nodes)

    # modify one model; state:modified+ against the URI-loaded manifest
    (proj / "models" / "marts" / "fct_orders.sql").write_text(
        "select id, value from {{ ref('stg_orders') }}"
    )
    eng2 = Engine(spark, str(proj), state_dir=str(tmp_path / "local_state"))
    manifest2 = eng2.compile()
    sel = manifest2.select("state:modified+", prior=prior)
    assert "model.t.fct_orders" in sel
    assert "model.t.stg_orders" not in sel

    # retry reads run_results back through the URI too
    eng3 = Engine(spark, str(proj), state_dir=state)
    r3, _ = eng3.retry()  # no failures recorded -> nothing to re-run
    assert r3.status_counts == {}


def test_lint_catches_broken_sql_yaml_and_semicolon(spark, sf_dir, tmp_path):
    """`engine lint`: static parse of every compiled model through
    Spark's parser + YAML structure checks, pre-first-build (no
    relations exist yet).  A clean project lints clean; syntax errors,
    trailing semicolons, and malformed YAML are caught with the node
    named."""
    proj = tmp_path / "lintproj"
    make_project(proj, sf_dir, schema="eng_lint")
    eng = Engine(spark, str(proj))
    assert eng.lint() == []  # clean project, no build required

    (proj / "models" / "marts" / "broken.sql").write_text(
        "select id frm {{ ref('stg_orders') }}"  # parse error: frm
    )
    (proj / "models" / "marts" / "semi.sql").write_text(
        "select id from {{ ref('stg_orders') }};"
    )
    findings = Engine(spark, str(proj)).lint()
    rules = {(f["node"], f["rule"]) for f in findings}
    assert ("model.t.broken", "sql-parse") in rules
    assert ("model.t.semi", "trailing-semicolon") in rules
    assert all(f["severity"] == "error" for f in findings)

    # jinja-level breakage short-circuits with a compile finding
    (proj / "models" / "marts" / "broken.sql").write_text(
        "select * from {{ ref('nonexistent_model') }}"
    )
    f2 = Engine(spark, str(proj)).lint()
    assert len(f2) == 1 and f2[0]["rule"] == "compile"

    # a project too broken to LOAD is a finding, not a stack trace
    (proj / "models" / "marts" / "broken.sql").unlink()
    (proj / "models" / "marts" / "bad.yml").write_text(
        "models:\n  - description: no name here\n"
    )
    f3 = Engine.lint_project(spark, str(proj))
    assert len(f3) == 1 and f3[0]["rule"] == "project-load"
    assert "name" in f3[0]["message"]


def test_lint_style_rules_opt_in(spark, sf_dir, tmp_path):
    """Style layer (sqlfluff L016/L010/L001 analogs, reference
    .sqlfluff:1-8): off without a `lint:` section; with one, raw-text
    violations surface at WARNING severity (never failing the CLI),
    and Jinja/strings/comments are masked from keyword-case."""
    proj = tmp_path / "styleproj"
    make_project(proj, sf_dir, schema="eng_style")
    long_line = "select o_orderkey, " + ", ".join(
        f"o_totalprice as p{i}" for i in range(12)
    )
    (proj / "models" / "marts" / "styled.sql").write_text(
        long_line + "   \n"                       # >120 chars + trailing ws
        "FROM {{ ref('stg_orders') }}\n"          # 'from' alone is... UPPER
        "where o_totalprice > 0 -- SELECT inside comment is masked\n"
        "  and o_orderstatus <> \"NOT IN SELECT\"\n"  # "..." literal masked
    )
    # no lint: section -> style layer off, project still lints clean
    assert Engine(spark, str(proj)).lint() == []

    with open(proj / "project.yml", "a") as f:
        f.write("lint:\n  max_line_length: 120\n  keyword_case: lower\n")
    findings = Engine(spark, str(proj)).lint()
    mine = [f for f in findings if f["node"] == "model.t.styled"]
    rules = {f["rule"] for f in mine}
    assert rules == {"max-line-length", "trailing-whitespace", "keyword-case"}
    assert all(f["severity"] == "warning" for f in mine)
    kc = next(f for f in mine if f["rule"] == "keyword-case")
    assert "1 keyword(s)" in kc["message"]  # only FROM; masked regions skip

    # warnings exit 0 from the CLI (errors alone gate CI)
    from dbt_core_gcloud_template_spark.cli import main as cli_main

    assert cli_main(["lint", "--project-dir", str(proj)]) == 0


def test_bigquery_compat_in_model_sql(spark, sf_dir, tmp_path):
    """Model SQL using BigQuery idioms (SAFE_DIVIDE) builds unchanged."""
    root = tmp_path / "bqproj"
    (root / "models").mkdir(parents=True)
    (root / "project.yml").write_text("name: bq\nprofile: bq\n")
    (root / "profiles.yml").write_text(
        "bq:\n  target: dev\n  outputs:\n    dev:\n      schema: eng_bq\n      threads: 2\n"
    )
    (root / "models" / "src.yml").write_text(
        f"""sources:
  - name: raw
    schema: raw
    tables:
      - name: orders
        external:
          location: "{sf_dir}/orders.parquet"
          format: parquet
"""
    )
    (root / "models" / "safe_ratios.sql").write_text(
        "{{ config(materialized='table') }}\n"
        "select o_orderkey,\n"
        "       safe_divide(cast(o_totalprice as double),\n"
        "                   cast(o_custkey % 2 as double)) as ratio\n"
        "from {{ source('raw', 'orders') }}\n"
    )
    spark.sql("DROP DATABASE IF EXISTS eng_bq CASCADE")
    results, _ = Engine(spark, str(root), state_dir=str(tmp_path / "st")).build()
    assert results.status_counts.get("error", 0) == 0
    t = spark.table("eng_bq.safe_ratios")
    # even custkeys divide by zero -> SAFE_DIVIDE yields NULL, not error
    nulls = t.filter(t.ratio.isNull()).count()
    assert 0 < nulls < t.count()


def test_run_results_record_input_bytes(spark, sf_dir, tmp_path):
    """run_results carries the dry-run-style input-bytes estimate per
    materialized model (the BigQuery bytes-billed observability analog)."""
    import json as _json
    import os as _os

    _os.environ["SPARK_GRAFT_SF_DIR"] = sf_dir
    spark.sql("DROP DATABASE IF EXISTS analytics_dev CASCADE")
    state = tmp_path / "ib_state"
    eng = Engine(spark, "demo_project", state_dir=str(state))
    results, _ = eng.build(select="fct_example+ stg_example")
    by_id = {r.unique_id: r for r in results.results}
    fct = by_id["model.demo.fct_example"]
    assert fct.input_bytes > 0  # scanned the orders parquet
    rr = _json.load(open(state / "run_results.json"))
    rec = [r for r in rr["results"] if r["unique_id"] == "model.demo.fct_example"][0]
    assert rec["input_bytes"] == fct.input_bytes


def test_arturi_unknown_scheme_errors_clearly():
    """Object-store schemes without fsspec installed fail with a clear
    NotImplementedError, not an obscure import traceback."""
    import pytest as _pytest

    from dbt_core_gcloud_template_spark.plans import arturi

    assert arturi.join("memory://a", "b", "c") == "memory://a/b/c"
    assert not arturi.exists("memory://never/written")
    with _pytest.raises((NotImplementedError, Exception)) as ei:
        arturi.exists("gs://bucket/prod/manifest.json")
    assert "fsspec" in str(ei.value) or "gs" in str(ei.value)


def test_format_plugin_registry_and_default(spark, sf_dir, tmp_path):
    """Storage seam (plans/formats.py): parquet resolves by default
    and passes availability; delta/iceberg are registered but fail
    fast on a session without their jars; unknown names error with
    the registered list."""
    import pytest as _pytest

    from dbt_core_gcloud_template_spark.plans.formats import (
        DeltaFormat,
        IcebergFormat,
        ParquetFormat,
        get_format,
    )

    assert isinstance(get_format(None), ParquetFormat)
    assert isinstance(get_format("parquet", spark=spark), ParquetFormat)
    assert isinstance(get_format("delta"), DeltaFormat)
    assert isinstance(get_format("iceberg"), IcebergFormat)
    with _pytest.raises(ValueError, match="registered"):
        get_format("orc_nonsense")
    for name in ("delta", "iceberg"):
        if not get_format(name).available(spark):
            with _pytest.raises(ValueError, match="not available"):
                get_format(name, spark=spark)

    # an engine with a table_format override that isn't runnable on
    # this session fails at construction, not mid-DAG
    proj = tmp_path / "fmtproj"
    make_project(proj, sf_dir, schema="eng_fmt")
    with open(proj / "profiles.yml", "a") as f:
        f.write("      table_format: delta\n")
    if not get_format("delta").available(spark):
        with _pytest.raises(ValueError, match="not available"):
            Engine(spark, str(proj))

    # default engine records parquet through the plugin
    proj2 = tmp_path / "fmtproj2"
    make_project(proj2, sf_dir, schema="eng_fmt2")
    eng = Engine(spark, str(proj2))
    assert eng.format_plugin.name == "parquet"
    results, _ = eng.build(select="+fct_orders")
    assert results.status_counts.get("error", 0) == 0
    assert eng._catalog["eng_fmt2.fct_orders"]["format"] == "parquet"


def _delta_available(spark):
    from dbt_core_gcloud_template_spark.plans.formats import get_format

    return get_format("delta").available(spark)


def test_transactional_merge_sql_shape(spark):
    """The native-MERGE plugin builds correct MERGE INTO SQL for the
    dbt merge options (update/exclude columns, incremental
    predicates).  No delta jars in this container, so capture the SQL
    via a stub engine instead of executing it — the statement text IS
    the contract."""
    from dbt_core_gcloud_template_spark.plans.formats import DeltaFormat

    captured = {}

    class _SparkStub:
        class catalog:
            @staticmethod
            def dropTempView(name):
                pass

        def sql(self, q):
            captured["sql"] = q

    class _EngineStub:
        spark = _SparkStub()

    df = spark.createDataFrame(
        [(1, "a", 1.0)], "id int, name string, score double"
    )
    # createOrReplaceTempView on the real df needs the real session;
    # monkeypatch just the sql/dropTempView surface
    class _DF:
        columns = df.columns

        @staticmethod
        def createOrReplaceTempView(name):
            captured["view"] = name

    DeltaFormat().merge(
        _EngineStub(),
        "s.tgt",
        _DF(),
        ["id"],
        {
            "merge_exclude_columns": ["name"],
            # one pre-qualified, one BARE-column predicate: the bare one
            # must come out qualified with the t alias (it is ambiguous
            # inside MERGE — both t and s carry `score`)
            "incremental_predicates": ["t.score > 0", "score < 100 AND name <> 'x'"],
        },
    )
    sql = captured["sql"]
    assert "MERGE INTO s.tgt t USING" in sql
    assert "t.`id` <=> s.`id`" in sql
    assert "AND (t.score > 0)" in sql
    assert "AND (t.`score` < 100 AND t.`name` <> 'x')" in sql
    assert "t.`score` = s.`score`" in sql
    assert "t.`name`" not in sql.split("UPDATE SET")[1].split("WHEN NOT")[0]
    assert "WHEN NOT MATCHED THEN INSERT *" in sql


def test_qualify_predicate_units():
    """Bare target columns get the t alias; functions, literals,
    keywords, and pre-qualified refs are untouched."""
    from dbt_core_gcloud_template_spark.plans.formats import qualify_predicate

    cols = ["id", "score", "date", "name", "ts"]
    assert qualify_predicate("score > 0", cols) == "t.`score` > 0"
    assert qualify_predicate("t.score > 0", cols) == "t.score > 0"
    assert qualify_predicate("s.score > 0", cols) == "s.score > 0"
    # a column that shadows a function name: the call form stays bare,
    # the argument (a real column) and the bare use are qualified
    assert (
        qualify_predicate("date(ts) >= date", cols)
        == "date(t.`ts`) >= t.`date`"
    )
    # string literals containing column names are untouched
    assert (
        qualify_predicate("name <> 'score id' AND id IN (1, 2)", cols)
        == "t.`name` <> 'score id' AND t.`id` IN (1, 2)"
    )
    # backticks QUOTE a name, they don't qualify it — a backticked
    # target column is just as ambiguous in MERGE and gets the alias
    assert qualify_predicate("`score` > 0", cols) == "t.`score` > 0"
    assert qualify_predicate("`not_a_col` > 0", cols) == "`not_a_col` > 0"
    # a backtick-ALIASED reference is already qualified — and its
    # column part must not be re-qualified
    assert qualify_predicate("`t`.date >= '2020'", cols) == "`t`.date >= '2020'"
    assert qualify_predicate("t.`date` >= '2020'", cols) == "t.`date` >= '2020'"
    # keywords / non-columns untouched
    assert (
        qualify_predicate("score IS NOT NULL OR other_col = 3", cols)
        == "t.`score` IS NOT NULL OR other_col = 3"
    )
    # grammar positions where a column NAME is syntax, not a reference:
    # cast target, interval unit, extract unit
    assert (
        qualify_predicate("cast(ts as date) >= '2024-01-01'", cols)
        == "cast(t.`ts` as date) >= '2024-01-01'"
    )
    cols_dt = cols + ["day", "year"]
    assert (
        qualify_predicate("ts > current_timestamp() - interval 7 day", cols_dt)
        == "t.`ts` > current_timestamp() - interval 7 day"
    )
    assert (
        qualify_predicate("extract(year from ts) = 2024", cols_dt)
        == "extract(year from t.`ts`) = 2024"
    )
    assert (
        qualify_predicate("ts > now() - interval '7' day", cols_dt)
        == "t.`ts` > now() - interval '7' day"
    )
    # ...while the same words used AS columns still qualify
    assert qualify_predicate("day >= 3 AND year = 2024", cols_dt) == (
        "t.`day` >= 3 AND t.`year` = 2024"
    )
    # 'from' only shields DATETIME units: positional-syntax column
    # references still qualify
    assert (
        qualify_predicate("substring(name from 1 for 3) = 'abc'", cols)
        == "substring(t.`name` from 1 for 3) = 'abc'"
    )
    # escaped quotes stay inside the literal — no rewriting within
    assert (
        qualify_predicate(r"name <> 'O\'Brien score' AND score > 0", cols)
        == r"t.`name` <> 'O\'Brien score' AND t.`score` > 0"
    )


def test_qualify_predicate_backtick_contexts():
    """Backticked identifiers get the SAME grammar-position shields as
    bare ones: a backticked cast target / interval unit / extract unit
    / function name stays syntax, while backticked column REFERENCES
    still qualify."""
    from dbt_core_gcloud_template_spark.plans.formats import qualify_predicate

    cols = ["id", "ts", "date", "day", "year", "score"]
    # cast target: `date` is a type name here, not the `date` column
    assert (
        qualify_predicate("cast(ts as `date`) >= '2024-01-01'", cols)
        == "cast(t.`ts` as `date`) >= '2024-01-01'"
    )
    # interval / extract units
    assert (
        qualify_predicate("ts > now() - interval 7 `day`", cols)
        == "t.`ts` > now() - interval 7 `day`"
    )
    assert (
        qualify_predicate("extract(`year` from ts) = 2024", cols)
        == "extract(`year` from t.`ts`) = 2024"
    )
    # a backticked name followed by '(' is a function call
    assert qualify_predicate("`date`(ts) >= date", cols) == (
        "`date`(t.`ts`) >= t.`date`"
    )
    # ...while plain backticked references still get the alias
    assert qualify_predicate("`day` >= 3 AND `score` > 0", cols) == (
        "t.`day` >= 3 AND t.`score` > 0"
    )


def test_delta_format_integration(spark, sf_dir, tmp_path):
    """Full-suite drop-in proof for the transactional path — runs only
    where delta jars + extension are on the session."""
    import pytest as _pytest

    if not _delta_available(spark):
        _pytest.skip("delta runtime not on this session")
    proj = tmp_path / "deltaproj"
    make_project(proj, sf_dir, schema="eng_delta")
    with open(proj / "profiles.yml", "a") as f:
        f.write("      table_format: delta\n")
    eng = Engine(spark, str(proj))
    results, _ = eng.build()
    assert results.status_counts.get("error", 0) == 0
    assert eng._catalog["eng_delta.fct_orders"]["format"] == "delta"


def test_optimize_compact_deltas_through(spark, sf_dir, tmp_path):
    """`engine optimize --compact-deltas-through N` row-compacts a
    drift count-delta log during the rewrite: folds below any future
    horizon are unchanged, every compacted day tag survives as a
    tombstone (retry anti-join safety), rows shrink, and a table
    without the delta-log schema is refused with a clear error."""
    import pytest
    from pyspark.sql import functions as F

    root = tmp_path / "optd"
    proj_dir = make_project(root, sf_dir, schema="eng_optd")
    (root / "models" / "marts" / "drift_log.sql").write_text(
        "{{ config(materialized='table') }}\n"
        "select * from (values\n"
        "  ('chars', '0', cast(3 as bigint), cast(0 as bigint), 'h1'),\n"
        "  ('chars', '1', cast(2 as bigint), cast(0 as bigint), 'h1'),\n"
        "  ('chars', '0', cast(1 as bigint), cast(100 as bigint), 'h1'),\n"
        "  ('chars', '1', cast(4 as bigint), cast(100 as bigint), 'h1'),\n"
        "  ('chars', '0', cast(5 as bigint), cast(170 as bigint), 'h1'),\n"
        "  ('chars', '0', cast(7 as bigint), cast(340 as bigint), 'h1')\n"
        ") as t(feature, bucket, n, ingest_lo, spec_hash)"
    )
    eng = Engine(spark, proj_dir)
    r1, _ = eng.build()
    assert r1.status_counts.get("error", 0) == 0

    def fold(lo):
        return sorted(
            map(
                tuple,
                spark.table("eng_optd.drift_log")
                .filter(f"ingest_lo < {lo} AND bucket IS NOT NULL")
                .groupBy("feature", "bucket")
                .agg(F.sum("n").alias("n"))
                .collect(),
            )
        )

    before_340, before_inf = fold(340), fold(10**9)
    stats = eng.optimize(
        "eng_optd.drift_log", compact_deltas_through=340
    )
    assert stats["compacted_through"] == 340
    assert stats["rows_after"] < stats["rows_before"]
    assert fold(340) == before_340 and fold(10**9) == before_inf
    tags = {
        r["ingest_lo"]
        for r in spark.table("eng_optd.drift_log")
        .filter("spec_hash <> '<compact-horizon>'")
        .select("ingest_lo")
        .distinct()
        .collect()
    }
    assert tags == {0, 100, 170, 340}  # day 0 survives as a tombstone
    # a non-delta-log table is refused, not silently mangled
    with pytest.raises(ValueError, match="not a count-delta log"):
        eng.optimize("eng_optd.fct_orders", compact_deltas_through=1)


def test_restate_drift_day_then_fold_matches_from_scratch(spark, sf_dir, tmp_path):
    """`engine restate --table <drift log> --day <lo>` (r12, r11
    verdict task #3): evicting an ingested day's rows lets a CORRECTED
    re-delivery of that day re-ingest — the model's retry anti-join
    would otherwise silently keep the stale counts — and the resulting
    fold equals a from-scratch build with the corrected day.  Days
    below the compaction horizon are refused (full-refresh territory),
    and compacting past the newest stored tag warns."""
    import pytest
    from pyspark.sql import functions as F

    from dbt_core_gcloud_template_spark.operators import drift

    root = tmp_path / "rst"
    proj_dir = make_project(root, sf_dir, schema="eng_rst")
    # day 0 baseline, day 100 with WRONG counts, day 170 on top
    (root / "models" / "marts" / "drift_log.sql").write_text(
        "{{ config(materialized='table') }}\n"
        "select * from (values\n"
        "  ('chars', '0', cast(3 as bigint), cast(0 as bigint), 'h1'),\n"
        "  ('chars', '1', cast(2 as bigint), cast(0 as bigint), 'h1'),\n"
        "  ('chars', '0', cast(9 as bigint), cast(100 as bigint), 'h1'),\n"
        "  ('chars', '1', cast(9 as bigint), cast(100 as bigint), 'h1'),\n"
        "  ('chars', '0', cast(5 as bigint), cast(170 as bigint), 'h1')\n"
        ") as t(feature, bucket, n, ingest_lo, spec_hash)"
    )
    eng = Engine(spark, proj_dir)
    r1, _ = eng.build()
    assert r1.status_counts.get("error", 0) == 0
    tbl = "eng_rst.drift_log"

    corrected_100 = spark.createDataFrame(
        [("chars", "0", 1, 100, "h1"), ("chars", "1", 4, 100, "h1")],
        "feature string, bucket string, n bigint, ingest_lo bigint, "
        "spec_hash string",
    )
    # the from-scratch truth: day 0 + CORRECTED day 100 + day 170
    expected_fold = sorted(
        [("chars", "0", 3 + 1 + 5), ("chars", "1", 2 + 4)]
    )

    from conftest import FakeDbt

    # WITHOUT restate, re-delivering day 100 is a no-op (the documented
    # retry-idempotency contract): nothing appends
    noop = drift.incremental_drift_model(
        FakeDbt(tbl), spark,
        corrected_100.select("feature", "bucket", "n"), "h1", lo=100,
    )
    assert noop.count() == 0

    # restate: evict day 100, tags 0/170 survive untouched
    out = eng.restate_drift_day(tbl, 100)
    assert out["evicted_rows"] == 2
    tags = {r[0] for r in spark.table(tbl).select("ingest_lo").distinct().collect()}
    assert tags == {0, 170}
    # corrected re-delivery now ENTERS through the normal model path
    redo = drift.incremental_drift_model(
        FakeDbt(tbl), spark,
        corrected_100.select("feature", "bucket", "n"), "h1", lo=100,
    )
    assert redo.count() == 2
    redo.write.mode("append").saveAsTable(tbl)
    fold = sorted(
        map(
            tuple,
            spark.table(tbl)
            .filter("bucket IS NOT NULL")
            .groupBy("feature", "bucket")
            .agg(F.sum("n").cast("bigint").alias("n"))
            .collect(),
        )
    )
    assert fold == expected_fold

    # a non-delta-log table is refused
    with pytest.raises(ValueError, match="not a count-delta log"):
        eng.restate_drift_day("eng_rst.fct_orders", 100)

    # after compaction through 170, day 100's own rows are folded away:
    # restate must refuse below the horizon, still allow at/after it
    stats = eng.optimize(tbl, compact_deltas_through=170)
    assert stats["compacted_through"] == 170
    assert "warning" not in stats  # 170 is the newest tag... not past it
    with pytest.raises(ValueError, match="full-refresh"):
        eng.restate_drift_day(tbl, 100)
    # restating a day with NO stored rows (above the horizon) is an
    # explicit error, not a silent-success full rewrite — a typo'd
    # --day would otherwise leave the real stale day in place while
    # reporting success
    with pytest.raises(ValueError, match="no stored rows"):
        eng.restate_drift_day(tbl, 123456)
    ok = eng.restate_drift_day(tbl, 170)  # at the horizon: own rows exist
    assert ok["evicted_rows"] == 1

    # compacting PAST the newest stored tag is legal but warned: every
    # stored day becomes fold-only, so any retry's recomputed PSI may
    # diverge from the original run's recorded metrics
    stats2 = eng.optimize(tbl, compact_deltas_through=10**9)
    assert "warning" in stats2 and "newest stored tag" in stats2["warning"]

    # catalog-loss safety (r12 in-band marker): even after the catalog
    # record of the horizon is erased, the marker row the compaction
    # wrote INTO the log still governs — a below-horizon restate is
    # refused from the data alone
    entry = dict(eng._catalog[tbl])
    entry.pop("compact_horizon")
    eng._record(tbl, entry)
    with pytest.raises(ValueError, match="below the compaction horizon"):
        eng.restate_drift_day(tbl, 10**9 - 1)

    # pre-marker logs (compacted by r11 code, no marker, no catalog
    # record): tombstones prove compaction happened at an UNKNOWN
    # horizon, so every restate is refused — a folded row is
    # indistinguishable from a restatable day delta
    legacy = "eng_rst.drift_legacy"
    loc = eng._relation_path(legacy)
    spark.createDataFrame(
        [
            ("chars", "0", 9, 100, "h1"),   # folded multi-day row
            (None, None, 0, 0, "h1"),        # tombstone, no marker
            ("chars", "0", 7, 340, "h1"),
        ],
        "feature string, bucket string, n bigint, ingest_lo bigint, "
        "spec_hash string",
    ).write.mode("overwrite").parquet(loc)
    eng._record(
        legacy, {"type": "table", "format": "parquet", "location": loc}
    )
    with pytest.raises(ValueError, match="tombstones but no"):
        eng.restate_drift_day(legacy, 340)
