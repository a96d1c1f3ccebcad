"""Session-conf writes in the package are held to an allow-list.

A library operator that flips session-global conf changes the plans of
every other query sharing the session (ROADMAP item 6). This lint scans
the package's syntax trees for ``loop_conf(`` scopes and
``.conf.set(`` / ``.conf.unset(`` calls; a new site fails here until it
is justified below, and a deleted one must leave the list too.
"""

from __future__ import annotations

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / "mapreducelearnings_spark"

# (module path under the package, enclosing top-level function) → reason;
# "*" allows every site of the module
ALLOWED = {
    ("session.py", "*"): "the session factory owns the session's conf",
    ("plans/iterate.py", "loop_conf"): "the scope itself: sets, then restores",
    ("operators/graph.py", "sssp"): "above-cap loop, faster under the scope",
    ("operators/graph.py", "pagerank_standard"): (
        "above-cap loop, faster under the scope"
    ),
    ("operators/graph.py", "connected_components"): (
        "above-cap loop, faster under the scope"
    ),
    ("streaming/windows.py", "_drain"): (
        "shuffle width set only around start(), where the query captures it"
    ),
    ("streaming/windows.py", "run_streaming_lsh_to_memory"): (
        "progress retention: Spark reads it from the live session per update"
    ),
    ("queries.py", "_ensure_confs"): (
        "the two confs every registry entry needs, on a session lacking them"
    ),
    ("sources/pydatasource.py", "register_chain_edges"): (
        "enables the filter pushdown the connector's reader implements"
    ),
}


def _is_conf_write(call: ast.Call) -> bool:
    f = call.func
    if isinstance(f, ast.Name):
        return f.id == "loop_conf"
    return isinstance(f, ast.Attribute) and (
        f.attr == "loop_conf"
        or (
            f.attr in ("set", "unset")
            and isinstance(f.value, ast.Attribute)
            and f.value.attr == "conf"
        )
    )


def conf_write_sites(root: pathlib.Path = PKG) -> set[tuple[str, str]]:
    sites = set()
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        for top in ast.parse(path.read_text()).body:
            owner = getattr(top, "name", "<module>")
            for node in ast.walk(top):
                if isinstance(node, ast.Call) and _is_conf_write(node):
                    sites.add((rel, owner))
    return sites


def test_conf_writes_are_allow_listed():
    sites = conf_write_sites()
    unlisted = {
        s for s in sites if s not in ALLOWED and (s[0], "*") not in ALLOWED
    }
    assert unlisted == set(), (
        "new session-conf write; size the plan instead, or justify the "
        f"site in ALLOWED: {sorted(unlisted)}"
    )
    stale = {s for s in ALLOWED if s[1] != "*" and s not in sites}
    assert stale == set(), f"allow-listed sites that write no conf: {sorted(stale)}"


def test_conf_write_scan_sees_every_call_form(tmp_path):
    """The scan finds a bare and a qualified scope and a conf set/unset
    anywhere in a top-level function, and ignores other ``set`` calls."""
    (tmp_path / "m.py").write_text(
        "def a(spark):\n"
        "    with loop_conf(spark, 4):\n"
        "        pass\n"
        "def b(spark):\n"
        "    with it.loop_conf(spark, 4):\n"
        "        pass\n"
        "class C:\n"
        "    def c(self, spark):\n"
        "        spark.conf.unset('k')\n"
        "def d(spark):\n"
        "    def inner():\n"
        "        spark.conf.set('k', 'v')\n"
        "def e(spark, s):\n"
        "    s.set('k')\n"
        "    spark.conf.get('k')\n"
    )
    assert conf_write_sites(tmp_path) == {("m.py", n) for n in "abCd"}
