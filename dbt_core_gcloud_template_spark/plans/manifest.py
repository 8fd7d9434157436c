"""Manifest: the compiled DAG artifact (SURVEY.md §1.1 row 8; reference
entrypoint.sh:170-191 uploads it, scripts/ci_build.sh:12-32 restores it
for state selection).

Holds every node (model/seed/snapshot/test/source) with its checksum,
dependencies, and resolved relation FQN.  Serialized to
``manifest.json`` after each run; a prior manifest powers
``state:modified+`` selection (E3) and ``--defer`` (E4).
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import asdict, dataclass, field
from typing import Any


@dataclass
class Node:
    unique_id: str  # model.<proj>.<name> / seed... / snapshot... / test...
    name: str
    resource_type: str  # model | seed | snapshot | test | source
    schema: str  # target schema (database in Spark terms)
    alias: str  # relation name
    raw_sql: str = ""
    compiled_sql: str = ""
    config: dict[str, Any] = field(default_factory=dict)
    depends_on: list[str] = field(default_factory=list)
    checksum: str = ""
    description: str = ""
    columns: dict[str, str] = field(default_factory=dict)  # name -> description
    tags: list[str] = field(default_factory=list)
    # compile's is_incremental() answer (kept out of config: no checksum)
    incremental: bool = False

    @property
    def fqn(self) -> str:
        return f"{self.schema}.{self.alias}"

    @property
    def enabled(self) -> bool:
        return bool(self.config.get("enabled", True))

    @property
    def materialized(self) -> str:
        return self.config.get("materialized", "view")


def checksum_of(raw_sql: str, config: dict[str, Any]) -> str:
    payload = raw_sql + "\n--config--\n" + json.dumps(config, sort_keys=True, default=str)
    return hashlib.sha256(payload.encode()).hexdigest()


@dataclass
class Manifest:
    project_name: str
    target: str
    nodes: dict[str, Node] = field(default_factory=dict)

    def add(self, node: Node) -> None:
        self.nodes[node.unique_id] = node

    # -- graph ---------------------------------------------------------------
    def children_map(self) -> dict[str, list[str]]:
        out: dict[str, list[str]] = {uid: [] for uid in self.nodes}
        for uid, node in self.nodes.items():
            for dep in node.depends_on:
                if dep in out:
                    out[dep].append(uid)
        return out

    def descendants(self, uids: set[str]) -> set[str]:
        children = self.children_map()
        seen = set(uids)
        stack = list(uids)
        while stack:
            for child in children.get(stack.pop(), []):
                if child not in seen:
                    seen.add(child)
                    stack.append(child)
        return seen

    def ancestors(self, uids: set[str]) -> set[str]:
        seen = set(uids)
        stack = list(uids)
        while stack:
            for dep in self.nodes[stack.pop()].depends_on:
                if dep in self.nodes and dep not in seen:
                    seen.add(dep)
                    stack.append(dep)
        return seen

    def topo_order(self, selected: set[str] | None = None) -> list[str]:
        """Kahn topological sort restricted to ``selected`` (default: all)."""
        universe = set(self.nodes) if selected is None else set(selected)
        indeg = {
            uid: sum(1 for d in self.nodes[uid].depends_on if d in universe)
            for uid in universe
        }
        ready = sorted(uid for uid, d in indeg.items() if d == 0)
        children = self.children_map()
        order: list[str] = []
        while ready:
            uid = ready.pop(0)
            order.append(uid)
            for child in children.get(uid, []):
                if child in universe:
                    indeg[child] -= 1
                    if indeg[child] == 0:
                        ready.append(child)
            ready.sort()
        if len(order) != len(universe):
            cyc = universe - set(order)
            raise ValueError(f"dependency cycle involving: {sorted(cyc)}")
        return order

    # -- state selection (E3) -------------------------------------------------
    def modified_vs(self, prior: "Manifest | None") -> set[str]:
        """Nodes whose checksum changed (or that are new) vs a prior manifest."""
        if prior is None:
            return set(self.nodes)
        out = set()
        for uid, node in self.nodes.items():
            old = prior.nodes.get(uid)
            if old is None or old.checksum != node.checksum:
                out.add(uid)
        return out

    def _select_atom(
        self, atom: str, prior: "Manifest | None" = None
    ) -> set[str]:
        """One selection atom with dbt graph operators applied:
        ``+name`` ancestors, ``name+`` descendants, ``+name+`` both,
        ``@name`` descendants plus all their ancestors, and methods
        ``tag:`` ``source:`` ``path:`` ``resource_type:``
        ``state:modified`` ``state:new``."""
        at = atom.startswith("@")
        if at:
            atom = atom[1:]
        anc = atom.startswith("+")
        if anc:
            atom = atom[1:]
        desc = atom.endswith("+")
        if desc:
            atom = atom[:-1]
        if atom == "state:modified":
            base = self.modified_vs(prior)
        elif atom == "state:new":
            base = {
                u
                for u in self.nodes
                if prior is None or u not in prior.nodes
            }
        elif atom.startswith("tag:"):
            tag = atom[4:]
            base = {u for u, n in self.nodes.items() if tag in n.tags}
        elif atom.startswith("source:"):
            base = {
                u
                for u, n in self.nodes.items()
                if n.resource_type == "source"
                and (atom[7:] in (n.name, f"{u.split('.')[1]}.{n.name}", u))
            }
        elif atom.startswith("resource_type:"):
            base = {
                u
                for u, n in self.nodes.items()
                if n.resource_type == atom[len("resource_type:"):]
            }
        elif atom.startswith("path:"):
            # match on the original file path recorded in config (models
            # loaded from disk carry config['path']); prefix match like dbt
            pref = atom[5:]
            base = {
                u
                for u, n in self.nodes.items()
                if str(n.config.get("path", "")).startswith(pref)
            }
        else:
            base = {u for u, n in self.nodes.items() if n.name == atom or u == atom}
        if at:
            # dbt '@': the atom, its descendants, and every ancestor of
            # those descendants (build a model, everything downstream,
            # and all their upstream requirements)
            d = self.descendants(base)
            return d | self.ancestors(d)
        out = set(base)
        if anc:
            out |= self.ancestors(base)
        if desc:
            out |= self.descendants(base)
        return out

    def select(
        self, selector, prior: "Manifest | None" = None
    ) -> set[str]:
        """dbt-style selection grammar: space-separated terms UNION;
        comma-separated atoms within a term INTERSECT
        (``--select "tag:nightly,state:modified+"`` = both conditions);
        graph operators per atom (see ``_select_atom``).

        ``selector`` may also be a YAML selector *definition* (dict /
        list, per dbt selectors.yml): ``union:`` / ``intersection:`` /
        ``exclude:`` compose recursively; a ``method``/``value`` dict is
        one atom, with ``parents``/``children``/``childrens_parents``
        booleans as the graph operators."""
        if selector is None or selector == "":
            return set(self.nodes)
        if isinstance(selector, (dict, list)):
            return self._select_def(selector, prior)
        out: set[str] = set()
        for term in selector.split():
            atoms = [a for a in term.split(",") if a]
            if not atoms:
                continue
            sel = self._select_atom(atoms[0], prior)
            for a in atoms[1:]:
                sel &= self._select_atom(a, prior)
            out |= sel
        return out

    def _select_def(self, defn, prior: "Manifest | None") -> set[str]:
        """Recursive evaluation of a selectors.yml definition node."""
        if isinstance(defn, str):
            return self.select(defn, prior)
        if isinstance(defn, list):  # bare list = union (dbt shorthand)
            out: set[str] = set()
            for d in defn:
                out |= self._select_def(d, prior)
            return out
        if not isinstance(defn, dict):
            raise ValueError(f"bad selector definition: {defn!r}")
        if "union" in defn:
            out: set[str] = set()
            excl: set[str] = set()
            for d in defn["union"]:
                if isinstance(d, dict) and "exclude" in d:
                    # dbt: an exclude entry subtracts from the
                    # composition it appears in, applied after the
                    # other members accumulate
                    excl |= self._select_def(d["exclude"], prior)
                else:
                    out |= self._select_def(d, prior)
            return out - excl
        if "intersection" in defn:
            members = [
                d for d in defn["intersection"]
                if not (isinstance(d, dict) and "exclude" in d)
            ]
            excl = set()
            for d in defn["intersection"]:
                if isinstance(d, dict) and "exclude" in d:
                    excl |= self._select_def(d["exclude"], prior)
            parts = [self._select_def(d, prior) for d in members]
            out = parts[0] if parts else set()
            for p in parts[1:]:
                out &= p
            return out - excl
        if "exclude" in defn:
            # bare top-level exclude: everything minus the excluded set
            return set(self.nodes) - self._select_def(defn["exclude"], prior)
        # leaf: {method: ..., value: ..., parents/children/...: bool}
        method = defn.get("method", "fqn")
        value = defn.get("value")
        if value is None:
            raise ValueError(f"selector definition needs a value: {defn!r}")
        atom = value if method == "fqn" else f"{method}:{value}"
        if defn.get("childrens_parents"):
            atom = f"@{atom}"
        else:
            if defn.get("parents"):
                atom = f"+{atom}"
            if defn.get("children"):
                atom = f"{atom}+"
        return self._select_atom(atom, prior)

    # -- serialization -------------------------------------------------------
    def to_json(self) -> str:
        return json.dumps(
            {
                "project_name": self.project_name,
                "target": self.target,
                "nodes": {uid: asdict(n) for uid, n in self.nodes.items()},
            },
            indent=2,
            default=str,
        )

    def write(self, path: str) -> None:
        from .arturi import open_uri

        with open_uri(path, "w") as f:
            f.write(self.to_json())

    @classmethod
    def read(cls, path: str) -> "Manifest":
        from .arturi import open_uri

        with open_uri(path) as f:
            doc = json.load(f)
        m = cls(project_name=doc["project_name"], target=doc["target"])
        for uid, nd in doc["nodes"].items():
            m.add(Node(**nd))
        return m
