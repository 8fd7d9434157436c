"""One render context and one ``is_incremental()`` rule at every
template site: model compile, the runner's materialization choice,
model hooks, unit tests and ``show --inline``.

One scratch project is built twice (plus a ``--full-refresh`` rebuild
of one model) and its row counts compared — the way a second build
shows where the rendered SQL and the write path disagree."""

import os
import shutil

import pytest

from dbt_core_gcloud_template_spark.plans.compiler import CompilerError
from dbt_core_gcloud_template_spark.plans.runner import Engine

_GUARD = "{% if is_incremental() %} where id > (select max(id) from {{ this }}) {% endif %}"


def _write(root, rel, text):
    path = root / rel
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_text(text)


@pytest.fixture(scope="module")
def twice_built(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("jp")
    _write(root, "project.yml", "name: jp\nprofile: jp\nvars:\n  v1: hello\n")
    _write(
        root,
        "profiles.yml",
        "jp:\n  target: dev\n  outputs:\n    dev:\n      schema: jp_main\n"
        "      threads: 2\n",
    )
    _write(root, "macros/twice.sql", "{% macro twice(x) %}({{ x }} * 2){% endmacro %}\n")
    # a table is rebuilt whole: is_incremental() must stay false for it
    _write(
        root,
        "models/tbl_guarded.sql",
        "{{ config(materialized='table') }}\n"
        "select id from range(10) {% if is_incremental() %} where id % 5 = 0 {% endif %}",
    )
    # is_incremental() looks for the model's OWN relation (jp_other)
    _write(
        root,
        "models/app_other.sql",
        "{{ config(materialized='incremental', incremental_strategy='append',"
        " schema='jp_other') }}\nselect id from range(10) " + _GUARD,
    )
    # full_refresh=false keeps the incremental filter under --full-refresh
    _write(
        root,
        "models/app_nofr.sql",
        "{{ config(materialized='incremental', incremental_strategy='append',"
        " full_refresh=false) }}\nselect id from range(10) " + _GUARD,
    )
    _write(
        root,
        "models/hooked.sql",
        "{{ config(materialized='table',\n"
        "  pre_hook='create table if not exists jp_main.hook_log (v string) using parquet',\n"
        "  post_hook=\"insert into jp_main.hook_log values ('{{ var('v1') }}')\") }}\n"
        "select 1 as id",
    )
    _write(
        root,
        "models/keyed.sql",
        "select {{ surrogate_key(['id']) }} as sk, id from {{ ref('tbl_guarded') }}",
    )
    _write(
        root,
        "models/keyed.yml",
        "unit_tests:\n"
        "  - name: ut_keyed\n"
        "    model: keyed\n"
        "    given:\n"
        "      - input: ref('tbl_guarded')\n"
        "        rows:\n"
        "          - {id: 1}\n"
        "    expect:\n"
        "      rows:\n"
        "        - {id: 1}\n",
    )
    eng = Engine(spark, str(root))
    first, _ = eng.build()
    eng.build()
    counts = {
        fqn: spark.table(fqn).count()
        for fqn in ("jp_main.tbl_guarded", "jp_other.app_other", "jp_main.app_nofr")
    }
    eng.build(select="app_nofr", full_refresh=True)
    counts["app_nofr after --full-refresh"] = spark.table("jp_main.app_nofr").count()
    return eng, {r.unique_id: r for r in first.results}, counts


def test_table_model_is_never_incremental(twice_built):
    _, _, counts = twice_built
    assert counts["jp_main.tbl_guarded"] == 10


def test_is_incremental_finds_own_schema(twice_built):
    eng, _, counts = twice_built
    assert counts["jp_other.app_other"] == 10
    # compile decides once; the runner reads the same answer
    nodes = eng.compile().nodes
    assert nodes["model.jp.app_other"].incremental
    assert not nodes["model.jp.tbl_guarded"].incremental


def test_full_refresh_false_keeps_incremental_filter(twice_built):
    _, _, counts = twice_built
    assert counts["jp_main.app_nofr"] == 10
    assert counts["app_nofr after --full-refresh"] == 10


def test_post_hook_renders_var(twice_built, spark):
    _, first, _ = twice_built
    assert first["model.jp.hooked"].status == "success", first["model.jp.hooked"].message
    assert {r.v for r in spark.table("jp_main.hook_log").collect()} == {"hello"}


def test_unit_test_renders_surrogate_key(twice_built):
    _, first, _ = twice_built
    ut = first["unit_test.jp.ut_keyed"]
    assert ut.status == "pass", ut.message
    assert first["model.jp.keyed"].status == "success"


def test_show_inline_is_strict(twice_built):
    eng, _, _ = twice_built
    with pytest.raises(CompilerError, match="typo_name"):
        eng.show_inline("select '{{ typo_name }}' as x")


def test_show_inline_sees_project_macros(twice_built):
    eng, _, _ = twice_built
    assert eng.show_inline("select {{ twice(21) }} as x") == [{"x": 42}]


def test_input_bytes_of_percent_encoded_paths(spark, sf_dir, tmp_path):
    """Spark lists input files as percent-encoded URIs: a path with a
    space must still be sized (cost guard, input_bytes, parallelism)."""
    from dbt_core_gcloud_template_spark.sources.registry import file_bytes

    data = tmp_path / "sp ace"
    data.mkdir()
    pq = data / "orders.parquet"
    shutil.copy(os.path.join(sf_dir, "orders.parquet"), pq)
    size = os.path.getsize(pq)
    files = spark.read.parquet(str(pq)).inputFiles()
    assert "%20" in files[0]
    assert file_bytes(spark, files) == size

    root = tmp_path / "cap"
    _write(root, "project.yml", "name: cap\nprofile: cap\n")
    _write(
        root,
        "profiles.yml",
        "cap:\n  target: dev\n  outputs:\n    dev:\n      schema: jp_cap\n"
        f"      threads: 1\n      maximum_bytes_billed: {size - 1}\n",
    )
    _write(
        root,
        "models/src.yml",
        "sources:\n  - name: raw\n    schema: raw_jp_cap\n    tables:\n"
        f"      - name: orders\n        external:\n          location: '{pq}'\n"
        "          format: parquet\n",
    )
    _write(
        root,
        "models/capped.sql",
        "{{ config(materialized='table') }}\n"
        "select o_orderkey from {{ source('raw', 'orders') }}",
    )
    eng = Engine(spark, str(root))
    assert eng._estimate_input_bytes(spark.read.parquet(str(pq))) == size
    results, _ = eng.build()
    (capped,) = [r for r in results.results if r.unique_id == "model.cap.capped"]
    assert capped.status == "error" and "maximum_bytes_billed" in capped.message
