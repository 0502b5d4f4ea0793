"""Reachability guard: every package definition is reached from a root.

Roots are what the project runs: the ``@q``-registered corpus queries,
``__spark_entry__.py``, ``bench.py``, ``examples/`` and the non-test
``perfbench/`` modules, plus the names in the public ``__all__`` lists and
module-level code (it runs on import). From the roots the closure follows
NAMES: a bare name, an attribute or an imported alias ``foo`` reaches every
package function, class or method called ``foo``. Methods are nodes of
their own; a reached class reaches its dunder methods. Matching by name
over-approximates what is called, so a definition reported unreached is
dead to every root.

A definition nothing reaches is deleted, or listed in ``KEPT`` with the
reason it stays. Pure ``ast``: no Spark.
"""

from __future__ import annotations

import ast
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "pandas_db_sdk_spark"

_TESTED = "tests of kept code use it"
_JPEG = "JPEG layout wrapper kept for the codec tests"
KEPT = {
    "engine.py:DataFrameEngine.fsck": "the recovery path of the crash-safety contract",
    "engine.py:DataFrameEngine.retain_last": _TESTED,
    "engine.py:DataFrameEngine.restore": _TESTED,
    "engine.py:DataFrameEngine.delete_dataset": _TESTED,
    "timeseries.py:bfill": "test_ffill_bfill_match_pandas pins ffill with it",
    "_scratch.py:reclaim": "the test_scratch.py pool tests use it",
    "_models.py:invalidate": "the test_scratch.py model-cache tests use it",
    "multimodal.py:_jpeg_decode_as": _JPEG,
    "multimodal.py:_jpeg_decode_gray": _JPEG,
    "multimodal.py:_jpeg_decode_gray_progressive": _JPEG,
    "multimodal.py:_jpeg_decode_color_420": _JPEG,
    "multimodal.py:_jpeg_decode_color_420_progressive": _JPEG,
    "multimodal.py:_jpeg_encode_gray": _JPEG,
    "multimodal.py:_jpeg_encode_gray_progressive": _JPEG,
    "multimodal.py:_jpeg_encode_gray_progressive_sa": _JPEG,
    "multimodal.py:_jpeg_encode_color_420": _JPEG,
    "multimodal.py:_jpeg_encode_color_420_progressive": _JPEG,
    "refsource.py:RefLayoutReader.partitions": "Spark calls it as a DataSource callback",
}


def _names(node) -> set:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.ImportFrom):
            out.update(a.name for a in n.names)
    return out


def _is_query(fn) -> bool:
    return any(
        isinstance(d, ast.Call) and isinstance(d.func, ast.Name) and d.func.id == "q"
        for d in fn.decorator_list
    )


def _parse(path: str):
    with open(path) as f:
        return ast.parse(f.read())


def unreached() -> set:
    names_of: dict = {}  # node id -> names its body references
    edges: dict = {}  # node id -> node ids it reaches directly
    by_name: dict = {}  # name -> node ids of that name
    aliases: dict = {}  # `as` name -> imported names
    roots, root_names = set(), set()

    def add(nid, name, names):
        names_of[nid] = names
        by_name.setdefault(name, []).append(nid)

    for dirpath, _dirs, files in os.walk(os.path.join(REPO, PKG)):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(dirpath, fn)
            mod = os.path.relpath(path, os.path.join(REPO, PKG))
            tree = _parse(path)
            for n in ast.walk(tree):
                if isinstance(n, ast.ImportFrom):
                    for a in n.names:
                        if a.asname:
                            aliases.setdefault(a.asname, set()).add(a.name)
            for st in tree.body:
                if isinstance(st, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    add(f"{mod}:{st.name}", st.name, _names(st))
                    if _is_query(st):
                        roots.add(f"{mod}:{st.name}")
                elif isinstance(st, ast.ClassDef):
                    cid = f"{mod}:{st.name}"
                    body = set().union(*map(_names, st.bases + st.decorator_list))
                    for m in st.body:
                        if isinstance(m, (ast.FunctionDef, ast.AsyncFunctionDef)):
                            add(f"{cid}.{m.name}", m.name, _names(m))
                            if m.name.startswith("__") and m.name.endswith("__"):
                                # called implicitly: reached with the class
                                edges.setdefault(cid, []).append(f"{cid}.{m.name}")
                        else:
                            body |= _names(m)
                    add(cid, st.name, body)
                elif isinstance(st, (ast.Import, ast.ImportFrom)):
                    if fn == "__init__.py":
                        root_names |= _names(st)
                else:
                    root_names |= _names(st)
                    if any(isinstance(t, ast.Name) and t.id == "__all__" for t in getattr(st, "targets", [])):
                        root_names |= {e.value for e in st.value.elts}

    scripts = ["bench.py", "__spark_entry__.py"]
    for d in ("examples", "perfbench"):
        scripts += [
            os.path.join(d, f)
            for f in os.listdir(os.path.join(REPO, d))
            if f.endswith(".py") and not f.startswith("test_")
        ]
    for rel in scripts:
        root_names |= _names(_parse(os.path.join(REPO, rel)))

    def successors(names):
        for name in set(names).union(*(aliases.get(n, ()) for n in names)):
            yield from by_name.get(name, ())

    reached = set(roots) | set(successors(root_names))
    frontier = list(reached)
    while frontier:
        nid = frontier.pop()
        for nxt in [*successors(names_of[nid]), *edges.get(nid, ())]:
            if nxt not in reached:
                reached.add(nxt)
                frontier.append(nxt)
    return set(names_of) - reached


def test_every_definition_is_reached_or_kept():
    dead = unreached()
    assert not dead - set(KEPT), (
        "unreached from every root (corpus queries, examples, perfbench, "
        f"bench.py, __spark_entry__.py, __all__); delete or keep with a reason: "
        f"{sorted(dead - set(KEPT))}"
    )
    # an entry whose definition is gone or now reached is stale
    assert not set(KEPT) - dead, f"stale KEPT entries: {sorted(set(KEPT) - dead)}"
