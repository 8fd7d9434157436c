"""Compiler: Jinja render of models/snapshots into a Manifest
(SURVEY.md §3.1 step 4 "parse → render → manifest"; reference dbt 1.10
public semantics).

ONE render context (``render``) serves every template site — model and
snapshot compile, unit tests, ``run_operation``, model hooks and
``show --inline``: strict undefined (a typo is a CompilerError, never
''), project macros prepended, and (X1, X4-X5 parity)

  var(name, default)       → project vars
  env_var(name, default)   → os.environ
  target                   → {name, schema} of the active target
  log(msg)                 → '' (run_operation prints it)
  exceptions.raise_compiler_error(msg)
  surrogate_key(cols), dbt_utils.generate_surrogate_key(cols)

A site passes only what differs for it: ref(name) / source(src, table)
(relation FQN + DAG edge at compile, fixture views in unit tests),
this (the node's own schema.alias), config(**kw) (captured at compile),
run_query(sql) and a printing log (run_operation), and

  is_incremental()         → ``is_incremental``: True only when
                             materialized='incremental', the node's own
                             relation exists, and the run is not
                             --full-refresh (config full_refresh=false
                             overrides the flag); False at other sites

The predicate is asked once per model, at compile, and its answer is
kept on ``Node.incremental``: the rendered SQL, the Python model's
``dbt.is_incremental()`` and the runner's write path all read that one
answer, so they cannot disagree.  Deferral (E4, reference
ci_build.sh:53) rewrites compiled refs after compile, in
``Engine.build``.
"""

from __future__ import annotations

import functools
import os
import re
from typing import Any, Callable

import jinja2

from .manifest import Manifest, Node, checksum_of
from .project import Project


class CompilerError(Exception):
    pass


# Tokens that can legally follow a FROM-clause relation WITHOUT being a
# table alias — used by sample mode to decide whether the user's SQL
# already aliases a ref()/source() (a bare identifier after the
# relation that is none of these is an alias).
_SQL_CLAUSE_KEYWORDS = frozenset(
    """
    on where join inner left right full cross outer group order having
    limit union except intersect minus using natural when then else and
    or set qualify window lateral tablesample semi anti distribute sort
    cluster pivot unpivot values select from
    """.split()
)


class _Exceptions:
    @staticmethod
    def raise_compiler_error(msg: str):
        raise CompilerError(msg)


def _test_unique_id(model_name: str, column: str, test_name: str) -> str:
    return f"test.{test_name}_{model_name}_{column}"


def _surrogate_key(cols) -> str:
    # dbt_utils.generate_surrogate_key: deterministic row key from
    # columns (NULL-safe, engine-portable md5)
    if isinstance(cols, str):
        cols = [cols]
    parts = ", ".join(f"coalesce(cast({c} as string), '_null_')" for c in cols)
    return f"md5(concat_ws('-', {parts}))"


_ENV = jinja2.Environment(undefined=jinja2.StrictUndefined)


def _target_schema(project: Project, target: str) -> str:
    return project.targets.get(target, {}).get("schema", f"analytics_{target}")


def render(project: Project, target: str, sql: str, where: str, **site: Any) -> str:
    """Render ``sql`` in the one dbt context (see the module docstring);
    ``site`` adds or overrides names.  An undefined name raises
    ``CompilerError`` prefixed with ``where``."""
    ctx = {
        "var": lambda k, d=None: project.vars.get(k, d),
        "env_var": lambda k, d="": os.environ.get(k, d),
        "target": {"name": target, "schema": _target_schema(project, target)},
        "log": lambda msg, info=False: "",
        "exceptions": _Exceptions,
        "surrogate_key": _surrogate_key,
        "dbt_utils": {"generate_surrogate_key": _surrogate_key},
        "config": lambda **kw: "",
        "is_incremental": lambda: False,
        **site,
    }
    if project.macro_sql:
        sql = project.macro_sql + "\n" + sql
    try:
        return _ENV.from_string(sql).render(ctx)
    except jinja2.exceptions.UndefinedError as e:
        raise CompilerError(f"{where}: {e}") from e


def effective_full_refresh(config: dict[str, Any], full_refresh: bool) -> bool:
    """The run's ``--full-refresh`` flag as it applies to one node:
    config ``full_refresh: false`` protects a big incremental (or
    streaming) target from full-refresh rebuilds (dbt parity)."""
    return full_refresh and config.get("full_refresh") is not False


def is_incremental(
    config: dict[str, Any],
    fqn: str,
    full_refresh: bool,
    relation_exists: Callable[[str], bool],
) -> bool:
    """dbt's ``is_incremental()``: an incremental model whose own
    relation ``fqn`` (its schema/alias) already exists, on a run that is
    not an effective full refresh."""
    if config.get("materialized") != "incremental":
        return False
    if effective_full_refresh(config, full_refresh):
        return False
    return relation_exists(fqn)


def compile_python_model(
    m,
    model_uid: dict[str, str],
    seed_uid: dict[str, str],
    snap_uid: dict[str, str],
    src_fqn: dict[tuple[str, str], str],
    base_config: dict[str, Any],
    default_schema: str,
) -> Node:
    """Parse a dbt Python model (``def model(dbt, session)``) into a
    manifest node.  Like dbt, refs/sources/config are discovered
    STATICALLY (AST scan for ``dbt.ref(...)`` / ``dbt.source(...)`` /
    ``dbt.config(...)`` with literal arguments) — the function itself
    only runs at materialization time, on the cluster's session."""
    import ast

    captured = dict(base_config)
    deps: list[str] = []
    ref_rel: dict[str, str] = {}
    src_rel: dict[str, str] = {}
    try:
        tree = ast.parse(m.raw_sql)
    except SyntaxError as e:
        raise CompilerError(f"model.{m.name}: python parse error: {e}") from e
    for call in ast.walk(tree):
        if not (
            isinstance(call, ast.Call)
            and isinstance(call.func, ast.Attribute)
            and isinstance(call.func.value, ast.Name)
            and call.func.value.id == "dbt"
        ):
            continue
        if call.func.attr == "ref" and call.args:
            name = ast.literal_eval(call.args[0])
            dep = model_uid.get(name) or seed_uid.get(name) or snap_uid.get(name)
            if dep is None:
                raise CompilerError(f"model.{m.name}: dbt.ref('{name}') not found")
            deps.append(dep)
            ref_rel[name] = f"\x00REF:{dep}\x00"
        elif call.func.attr == "source" and len(call.args) >= 2:
            s, t = ast.literal_eval(call.args[0]), ast.literal_eval(call.args[1])
            if (s, t) not in src_fqn:
                raise CompilerError(
                    f"model.{m.name}: dbt.source('{s}', '{t}') not declared"
                )
            deps.append(f"source.{s}.{t}")
            src_rel[f"{s}.{t}"] = src_fqn[(s, t)]
        elif call.func.attr == "config":
            for kw in call.keywords:
                try:
                    captured[kw.arg] = ast.literal_eval(kw.value)
                except ValueError:
                    pass  # non-literal config values are ignored, like dbt
    captured.setdefault("materialized", "table")  # python models: no views
    captured["language"] = "python"
    captured["ref_relations"] = ref_rel
    captured["source_relations"] = src_rel
    uid = model_uid[m.name]
    return Node(
        unique_id=uid,
        name=m.name,
        resource_type="model",
        schema=captured.pop("schema", default_schema),
        alias=captured.pop("alias", m.name),
        raw_sql=m.raw_sql,
        compiled_sql="",  # executed, not compiled
        config=captured,
        depends_on=sorted(set(deps)),
        checksum=checksum_of(m.raw_sql, {k: v for k, v in captured.items() if k != "ref_relations"}),
    )


def compile_project(
    project: Project,
    target: str | None = None,
    full_refresh: bool = False,
    relation_exists: Callable[[str], bool] = lambda fqn: False,
    sample: str | None = None,
) -> Manifest:
    """Render every model/snapshot/seed/source/test into a Manifest.

    ``relation_exists(fqn)`` backs ``is_incremental()``, decided here
    once per model and kept on ``Node.incremental``; by default no
    relation counts as built.

    ``sample`` (dbt 1.10 sample mode, e.g. "3 days"): every ref() to a
    model declaring ``event_time`` and every source() whose declaration
    carries ``event_time`` resolves to a time-windowed subquery
    ``(SELECT * FROM rel WHERE col >= <anchor> - INTERVAL 'window')
    <name>`` — dev/CI builds run the full DAG over a recent slice.
    The subquery is aliased with the relation's bare name so SQL that
    qualifies columns by relation name (``... ON a.x = b.x``) keeps
    resolving under --sample — UNLESS the user's own SQL already
    aliases the ref (``{{ ref('x') }} AS e`` or bare ``{{ ref('x') }}
    e``): emitting the bare-name alias there would produce
    ``(SELECT ...) x AS e`` (a parse error) and duplicate aliases when
    one model is ref'd twice, so a user alias suppresses ours.  The
    window anchor is ONE literal timestamp captured at compile time —
    every model and test in the run cuts the same window (dbt anchors
    sample mode to the run start; a per-statement current_timestamp()
    would let a model materialize rows its own schema test then
    considers out-of-window).  The anchor literal carries an explicit
    ``+00:00`` offset: a zone-less literal parses in the SESSION
    timezone, which is only UTC on this project's own get_spark — an
    Engine on a foreign SparkSession would shift every window.
    Applies to SQL models; Python models' dbt.ref() reads the full
    relation.
    """
    from datetime import datetime, timezone

    anchor = datetime.now(timezone.utc).strftime("%Y-%m-%d %H:%M:%S.%f")

    def _sampled(rel: str, col: str, with_alias: bool = True) -> str:
        bare = rel.split(".")[-1].strip("`")
        sub = (
            f"(SELECT * FROM {rel} WHERE {col} >= "
            f"TIMESTAMP '{anchor}+00:00' - INTERVAL '{sample}')"
        )
        return f"{sub} {bare}" if with_alias else sub

    def _user_alias_follows(tail: str) -> bool:
        """True when the SQL text after a ref/source token already
        supplies a table alias (``AS e`` or a bare identifier that is
        not a clause keyword)."""
        if re.match(r"\s+as\s", tail, re.IGNORECASE):
            return True
        m = re.match(r"\s+(`[^`]+`|[A-Za-z_][A-Za-z0-9_]*)", tail)
        if not m:
            return False
        tok = m.group(1)
        return tok.startswith("`") or tok.lower() not in _SQL_CLAUSE_KEYWORDS
    target = target or project.default_target
    default_schema = _target_schema(project, target)
    manifest = Manifest(project_name=project.name, target=target)

    # sources first (S1): they are nodes so freshness/docs/state see them
    src_fqn: dict[tuple[str, str], str] = {}
    src_event_time: dict[tuple[str, str], str] = {}
    for s in project.sources:
        uid = s.unique_id
        manifest.add(
            Node(
                unique_id=uid,
                name=s.name,
                resource_type="source",
                schema=s.schema,
                alias=s.name,
                config={
                    "location": s.location,
                    "format": s.format,
                    "loaded_at_field": s.loaded_at_field,
                    "freshness": s.freshness,
                },
                description=s.description,
            )
        )
        src_fqn[(s.source_name, s.name)] = f"{s.schema}.{s.name}"
        if s.event_time:
            src_event_time[(s.source_name, s.name)] = s.event_time
        # dbt tests on source columns: run against the raw feed itself
        # (catch upstream contract breaks before any model consumes them)
        for col, col_tests in (s.column_tests or {}).items():
            for t in col_tests:
                if isinstance(t, dict):
                    t_name, t_params = next(iter(t.items()))
                else:
                    t_name, t_params = t, {}
                tuid = f"test.{t_name}_{s.source_name}_{s.name}_{col}"
                n_dup = 2
                base_uid = tuid
                while tuid in manifest.nodes:
                    tuid = f"{base_uid}_{n_dup}"
                    n_dup += 1
                manifest.add(
                    Node(
                        unique_id=tuid,
                        name=tuid.split(".", 1)[1],
                        resource_type="test",
                        schema=s.schema,
                        alias=s.name,
                        config={"test": t_name, "column": col, "params": t_params},
                        depends_on=[uid],
                        checksum=checksum_of(f"{t_name}:{col}", t_params),
                    )
                )

    for seed in project.seeds:
        manifest.add(
            Node(
                unique_id=f"seed.{project.name}.{seed.name}",
                name=seed.name,
                resource_type="seed",
                schema=default_schema,
                alias=seed.name,
                config={
                    "materialized": "seed",
                    "path": seed.path,
                    **project.seed_config(seed.name),
                },
                checksum=checksum_of(
                    open(seed.path).read(), project.seed_config(seed.name)
                ),
            )
        )

    model_uid = {m.name: f"model.{project.name}.{m.name}" for m in project.models}
    seed_uid = {s.name: f"seed.{project.name}.{s.name}" for s in project.seeds}
    snap_uid = {s.name: f"snapshot.{project.name}.{s.name}" for s in project.snapshots}

    def render_node(
        name: str,
        raw_sql: str,
        uid: str,
        base_config: dict[str, Any],
        is_snapshot: bool = False,
    ) -> Node:
        captured: dict[str, Any] = dict(base_config)
        deps: list[str] = []

        def _config(**kw):
            captured.update(kw)
            return ""

        def _ref(ref_name: str) -> str:
            dep = (
                model_uid.get(ref_name)
                or seed_uid.get(ref_name)
                or snap_uid.get(ref_name)
            )
            if dep is None:
                raise CompilerError(f"{uid}: ref('{ref_name}') not found")
            deps.append(dep)
            # The referenced node's final relation depends on ITS config
            # (schema/alias), which may not be rendered yet — emit a
            # placeholder token; compile_project substitutes the real
            # fqn once every node's config is known (dbt resolves ref to
            # the target's actual relation, not default_schema.name).
            return f"\x00REF:{dep}\x00"

        def _source(src_name: str, tbl_name: str) -> str:
            key = (src_name, tbl_name)
            if key not in src_fqn:
                raise CompilerError(
                    f"{uid}: source('{src_name}', '{tbl_name}') not declared"
                )
            deps.append(f"source.{src_name}.{tbl_name}")
            et = src_event_time.get(key)
            if sample and et:
                # Placeholder token, not the subquery itself: the final
                # pass substitutes with lookahead at the surrounding SQL
                # so a user-written alias suppresses the bare-name one.
                return f"\x00SRC:{src_fqn[key]}:{et}\x00"
            return src_fqn[key]

        def _own_fqn() -> str:
            # Read `captured` at CALL time: jinja renders top-to-bottom
            # and dbt requires config() before use, so schema/alias
            # overrides are already captured when this runs.
            return (
                f"{captured.get('schema', default_schema)}"
                f".{captured.get('alias', name)}"
            )

        class _This:
            # `this` must honor the node's own schema/alias config;
            # stringify lazily so a top-of-file config() is respected.
            def __str__(self) -> str:
                return _own_fqn()

        # decided once per node: the rendered SQL and the runner's write
        # path (Node.incremental) read the same answer
        decide = functools.cache(
            lambda: is_incremental(captured, _own_fqn(), full_refresh, relation_exists)
        )

        compiled = render(
            project,
            target,
            raw_sql,
            uid,
            config=_config,
            ref=_ref,
            source=_source,
            this=_This(),
            is_incremental=decide,
        )
        incremental = decide()  # before schema/alias leave `captured`
        compiled = re.sub(r"\n{3,}", "\n\n", compiled).strip()
        return Node(
            unique_id=uid,
            name=name,
            resource_type="snapshot" if is_snapshot else "model",
            schema=captured.pop("schema", default_schema),
            alias=captured.pop("alias", name),
            raw_sql=raw_sql,
            compiled_sql=compiled,
            config=captured,
            depends_on=sorted(set(deps)),
            checksum=checksum_of(raw_sql, captured),
            incremental=incremental,
        )

    for m in project.models:
        base = dict(project.model_defaults.get(m.subdir, {}))
        base.update(m.yml_config)  # models/*.yml config: block
        # project-relative file path, the `path:` selection method's key
        base["path"] = os.path.relpath(m.path, project.root)
        declared = {c.name: c.data_type for c in m.columns if c.data_type}
        if declared:
            base["contract_types"] = declared
        if m.language == "python":
            node = compile_python_model(
                m, model_uid, seed_uid, snap_uid, src_fqn, base, default_schema
            )
            node.incremental = is_incremental(
                node.config, node.fqn, full_refresh, relation_exists
            )
        else:
            node = render_node(m.name, m.raw_sql, model_uid[m.name], base)
        node.description = m.description
        node.columns = {c.name: c.description for c in m.columns}
        manifest.add(node)
        # attach generic tests (A4/A5; reference stg_example.yml:5-8),
        # plus model-level dbt_utils-style tests (X7)
        def _add_test(test_spec, column: str) -> None:
            if isinstance(test_spec, dict):
                test_name, params = next(iter(test_spec.items()))
            else:
                test_name, params = test_spec, {}
            tuid = _test_unique_id(m.name, column or "model", test_name)
            # same test type declared twice on one column/model (e.g. two
            # expression_is_true with different expressions): suffix a
            # counter so neither silently overwrites the other
            n_dup = 2
            base_uid = tuid
            while tuid in manifest.nodes:
                tuid = f"{base_uid}_{n_dup}"
                n_dup += 1
            manifest.add(
                Node(
                    unique_id=tuid,
                    name=tuid.split(".", 1)[1],
                    resource_type="test",
                    schema=node.schema,
                    alias=node.alias,
                    config={"test": test_name, "column": column, "params": params},
                    depends_on=[node.unique_id],
                    checksum=checksum_of(f"{test_name}:{column}", params),
                )
            )

        for col in m.columns:
            for t in col.tests:
                _add_test(t, col.name)
        for t in m.model_tests:
            _add_test(t, "")

    for s in project.snapshots:
        node = render_node(
            s.name, s.raw_sql, snap_uid[s.name], {"materialized": "snapshot"}, True
        )
        manifest.add(node)

    # unit tests (dbt 1.8 public semantics): fixture-driven runs of a
    # model's SQL.  The MODEL depends on ITS unit tests — a failing unit
    # test skips the model build, exactly dbt's `build` ordering.
    for ut in project.unit_tests:
        muid = model_uid.get(ut.model)
        if muid is None:
            raise CompilerError(f"unit_test {ut.name}: model '{ut.model}' not found")
        tuid = f"unit_test.{project.name}.{ut.name}"
        manifest.add(
            Node(
                unique_id=tuid,
                name=ut.name,
                resource_type="unit_test",
                schema=default_schema,
                alias=ut.name,
                config={"model_uid": muid, "given": ut.given, "expect": ut.expect},
                description=ut.description,
                checksum=checksum_of(ut.model, {"given": ut.given, "expect": ut.expect}),
            )
        )
        manifest.nodes[muid].depends_on = sorted(
            set(manifest.nodes[muid].depends_on) | {tuid}
        )

    # Resolve ref() placeholder tokens now that every node's final
    # schema/alias is known (a ref'd model may set config(schema=...,
    # alias=...) — downstream SQL must point at the relation the runner
    # actually materializes, i.e. the node's fqn).
    # dbt 1.5 model governance: a model with access=private may only be
    # ref'd from models in the SAME group (tests/docs attached to the
    # model itself are exempt, like dbt)
    for uid, n in manifest.nodes.items():
        if n.resource_type != "model":
            continue
        for dep_uid in n.depends_on:
            dep = manifest.nodes.get(dep_uid)
            if (
                dep is not None
                and dep.resource_type == "model"
                and dep.config.get("access") == "private"
                and n.config.get("group") != dep.config.get("group")
            ):
                raise CompilerError(
                    f"{uid}: cannot ref private model {dep_uid} "
                    f"(group {dep.config.get('group')!r} != {n.config.get('group')!r})"
                )

    fqn_by_uid = {
        uid: n.fqn
        for uid, n in manifest.nodes.items()
        if n.resource_type in ("model", "seed", "snapshot")
    }
    token_re = re.compile("\x00REF:([^\x00]+)\x00")
    src_token_re = re.compile("\x00SRC:([^\x00]+)\x00")

    def _resolve_src(text: str) -> str:
        # Sampled-source tokens → windowed subquery, with the bare-name
        # alias suppressed when the user's SQL aliases the source.
        def s(mo: re.Match) -> str:
            fqn, et = mo.group(1).rsplit(":", 1)
            return _sampled(
                fqn, et,
                with_alias=not _user_alias_follows(mo.string[mo.end():]),
            )
        return src_token_re.sub(s, text)

    def _resolve(text: str) -> str:
        # Config strings never hold FROM-clause positions: refs resolve
        # to the plain FQN and sampled-source tokens degrade likewise.
        text = token_re.sub(lambda mo: fqn_by_uid[mo.group(1)], text)
        return src_token_re.sub(
            lambda mo: mo.group(1).rsplit(":", 1)[0], text
        )

    # Ephemeral materialization (dbt core semantics): a ref() to an
    # ephemeral model inlines the model as a CTE — it is never
    # materialized, so downstream SQL must carry its body.  Nested
    # ephemerals inline transitively, ordered dependencies-first.
    ephemeral = {
        uid
        for uid, n in manifest.nodes.items()
        if n.resource_type == "model"
        and n.config.get("materialized") == "ephemeral"
    }
    _body_memo: dict[str, tuple[str, list[tuple[str, str]]]] = {}

    def _body(uid: str) -> tuple[str, list[tuple[str, str]]]:
        """(sql with refs resolved to fqns/CTE names, required CTEs
        dependencies-first)."""
        if uid in _body_memo:
            return _body_memo[uid]
        ctes: list[tuple[str, str]] = []

        def sub(mo: re.Match) -> str:
            dep = mo.group(1)
            if dep in ephemeral:
                dsql, dctes = _body(dep)
                for c in dctes:
                    if c not in ctes:
                        ctes.append(c)
                cname = f"__dbt__cte__{manifest.nodes[dep].name}"
                if (cname, dsql) not in ctes:
                    ctes.append((cname, dsql))
                return cname
            et = manifest.nodes[dep].config.get("event_time")
            if sample and et:
                return _sampled(
                    fqn_by_uid[dep], et,
                    with_alias=not _user_alias_follows(
                        mo.string[mo.end():]
                    ),
                )
            return fqn_by_uid[dep]

        sql = token_re.sub(sub, manifest.nodes[uid].compiled_sql)
        sql = _resolve_src(sql)
        _body_memo[uid] = (sql, ctes)
        return _body_memo[uid]

    def _with_ctes(ctes: list[tuple[str, str]], sql: str) -> str:
        if not ctes:
            return sql
        clause = ", ".join(f"{name} AS ({s})" for name, s in ctes)
        m = re.match(r"^\s*with\s", sql, re.IGNORECASE)
        if m:  # merge into the model's own WITH clause
            return "WITH " + clause + ", " + sql[m.end():]
        return "WITH " + clause + "\n" + sql

    for uid, n in manifest.nodes.items():
        if "\x00" in n.compiled_sql:
            sql, ctes = _body(uid)
            n.compiled_sql = sql if uid in ephemeral else _with_ctes(ctes, sql)
        for k, v in n.config.items():
            if isinstance(v, str) and "\x00" in v:
                n.config[k] = _resolve(v)
            elif isinstance(v, list):
                n.config[k] = [
                    _resolve(x) if isinstance(x, str) and "\x00" in x else x
                    for x in v
                ]
            elif isinstance(v, dict):
                resolved = {}
                for kk, vv in v.items():
                    if isinstance(vv, str) and "\x00" in vv:
                        dep = token_re.search(vv).group(1)
                        if dep in ephemeral:
                            raise CompilerError(
                                f"{uid}: Python models cannot ref() the "
                                f"ephemeral model {dep} (no relation to read)"
                            )
                        vv = _resolve(vv)
                    resolved[kk] = vv
                n.config[k] = resolved

    # exposures last: metadata-only DAG leaves (reference
    # models/exposures.yml:3-17) — depends_on entries are raw
    # "ref('name')" / "source('src', 'tbl')" strings
    ref_re = re.compile(r"ref\(\s*['\"]([^'\"]+)['\"]\s*\)")
    src_re = re.compile(r"source\(\s*['\"]([^'\"]+)['\"]\s*,\s*['\"]([^'\"]+)['\"]\s*\)")
    for e in project.exposures:
        deps: list[str] = []
        for d in e.depends_on:
            m_ref = ref_re.search(d)
            if m_ref and m_ref.group(1) in model_uid:
                deps.append(model_uid[m_ref.group(1)])
            elif m_ref and m_ref.group(1) in seed_uid:
                deps.append(seed_uid[m_ref.group(1)])
            elif m_ref and m_ref.group(1) in snap_uid:
                deps.append(snap_uid[m_ref.group(1)])
            else:
                m_src = src_re.search(d)
                if m_src:
                    uid = f"source.{m_src.group(1)}.{m_src.group(2)}"
                    if uid in manifest.nodes:
                        deps.append(uid)
        manifest.add(
            Node(
                unique_id=f"exposure.{project.name}.{e.name}",
                name=e.name,
                resource_type="exposure",
                schema=default_schema,
                alias=e.name,
                config={
                    "type": e.type,
                    "url": e.url,
                    "maturity": e.maturity,
                    "owner": e.owner,
                },
                depends_on=deps,
                description=e.description,
                checksum=checksum_of(e.name + e.type + e.url, e.owner),
            )
        )

    _validate_governance(project, manifest)
    return manifest


def _validate_governance(project: Project, manifest: Manifest) -> None:
    """dbt 1.5 model governance, declaration side (the private-ref edge
    check itself runs inline during ref resolution above): every group a
    model claims must be DECLARED (project.yml or models/*.yml
    ``groups:``), and ``access`` must be one of dbt's three levels —
    exactly dbt's parse-time validation."""
    for uid, n in manifest.nodes.items():
        if n.resource_type != "model":
            continue
        grp = n.config.get("group")
        if grp and grp not in project.groups:
            raise CompilerError(
                f"{uid}: group '{grp}' is not declared (have: "
                f"{sorted(project.groups) or 'none'})"
            )
        acc = n.config.get("access", "protected")
        if acc not in ("private", "protected", "public"):
            raise CompilerError(f"{uid}: invalid access '{acc}'")
