"""sources/fsio: object-store-portable sidecar I/O (r8 verdict ask #1)
plus the filesystem-portability lint (ask #4) that keeps local-FS
assumptions from silently returning to engine code."""

import ast
import json
import os

import pytest

from etl_project_gcp_spark.sources import fsio


def test_fsio_roundtrip_bare_and_file_uri(spark, tmp_path):
    """The same helper addresses bare local paths AND explicit
    scheme'd URIs — the property that makes gs://… sidecars work
    without code changes (only local/file: is provable in-sandbox)."""
    bare = str(tmp_path / "a" / "params.json")
    uri = f"file://{tmp_path}/b/meta.json"
    for p in (bare, uri):
        assert not fsio.exists(p)
        fsio.write_text(p, json.dumps({"k": 1}))
        assert fsio.exists(p)
        assert json.loads(fsio.read_text(p)) == {"k": 1}
        fsio.write_text(p, json.dumps({"k": 2}))  # overwrite-in-place
        assert json.loads(fsio.read_text(p)) == {"k": 2}
        assert fsio.delete(p)
        assert not fsio.exists(p)


def test_fsio_write_leaves_no_temp_residue(spark, tmp_path):
    """The atomic write stages a temp sibling and renames it away —
    the directory must end up holding exactly the destination (plus
    LocalFileSystem's checksum shadow), never a stranded .tmp."""
    p = str(tmp_path / "d" / "state.json")
    for i in range(3):
        fsio.write_text(p, json.dumps({"epoch": i}))
    names = os.listdir(tmp_path / "d")
    assert not [n for n in names if ".tmp-" in n], names
    assert json.loads(fsio.read_text(p)) == {"epoch": 2}


def test_fsio_read_missing_raises_loudly(spark, tmp_path):
    with pytest.raises(Exception):
        fsio.read_text(str(tmp_path / "absent.json"))


def test_fsio_write_fallback_branch_without_filecontext(
    spark, tmp_path, monkeypatch
):
    """r9 verdict ask #3: the delete+rename fallback (what an
    object-store scheme without FileContext runs) has to work end to
    end, not just compile — force it by failing the FileContext
    acquisition and re-run the full create/overwrite/residue cycle."""

    def _no_fc(*a, **k):
        raise RuntimeError("scheme has no FileContext (forced)")

    monkeypatch.setattr(fsio, "_filecontext_rename_overwrite", _no_fc)
    p = str(tmp_path / "fb" / "params.json")
    fsio.write_text(p, json.dumps({"k": 1}))  # create (no delete needed)
    assert json.loads(fsio.read_text(p)) == {"k": 1}
    fsio.write_text(p, json.dumps({"k": 2}))  # overwrite: delete+rename
    assert json.loads(fsio.read_text(p)) == {"k": 2}
    names = os.listdir(tmp_path / "fb")
    assert not [n for n in names if ".tmp-" in n], names


def test_fsio_read_or_none_propagates_non_missing_errors(
    spark, tmp_path, monkeypatch
):
    """ADVICE r9: only a FileNotFoundException in the JVM cause chain
    may map to None — a transient store error must surface, not read
    as 'no sidecar, proceed'."""
    assert fsio.read_text_or_none(str(tmp_path / "absent.json")) is None

    def _transient(*a, **k):
        raise RuntimeError("store hiccup (forced)")

    monkeypatch.setattr(fsio, "read_text", _transient)
    with pytest.raises(RuntimeError, match="store hiccup"):
        fsio.read_text_or_none(str(tmp_path / "absent.json"))


def test_lsh_index_lifecycle_on_object_store_semantics(
    spark, tmp_path, monkeypatch
):
    """r10 verdict ask #4: r10 tested the FileContext-less fallback in
    isolation; this composes it through the full LSH index lifecycle.
    EVERY sidecar write (params.json, both append-marker flips) is
    forced down write_text's delete+rename fallback — the branch an
    object-store scheme without FileContext runs, where renames cannot
    clobber — and the refusal/repair paths must fire exactly where the
    design says:

      build → append → search          green end-to-end on the fallback
      crash in the fallback's no-file
      window during a params rewrite   search REFUSES (lost sidecar)
      rebuild                          restores sidecar, search green
      crash between marker 'pending'
      and the table writes' commit     search REFUSES (partial append)
      rebuild                          clears the stale marker, green
    """
    from etl_project_gcp_spark.operators import dedup as DD

    fallback_writes = {"n": 0}

    def _no_fc(*a, **k):
        fallback_writes["n"] += 1
        raise RuntimeError("scheme has no FileContext (object-store sim)")

    monkeypatch.setattr(fsio, "_filecontext_rename_overwrite", _no_fc)

    def docs(rows):
        return spark.createDataFrame(rows, ["doc_id", "text"])

    base = (
        "the quick brown fox jumps over the lazy dog while the sun sets "
        "slowly behind the quiet hills and the river flows gently toward "
        "the distant sea carrying leaves past the old wooden bridge"
    )
    other = (
        "completely different content about database engines and columnar "
        "storage formats with vectorized execution and adaptive plans "
        "spilling to disk when memory pressure rises during large joins"
    )
    idx = str(tmp_path / "idx")

    # 1. build: params.json lands through the fallback
    DD.lsh_build_index(docs([(1, base)]), idx)
    assert fallback_writes["n"] >= 1

    # 2. append: both marker flips (pending → committed) take the
    # fallback too; the appended doc becomes searchable corpus
    before = fallback_writes["n"]
    DD.lsh_append_index(docs([(2, other)]), idx)
    assert fallback_writes["n"] >= before + 2

    # 3. search: near-dups of BOTH the built and the appended doc found
    hits = DD.lsh_search_index(
        spark, idx, docs([(8, base), (9, other)])
    ).collect()
    assert {r.doc_id: r.is_near_dup for r in hits} == {8: True, 9: True}

    # 4. crash inside the fallback's delete→rename window during a
    # params.json rewrite: destination deleted, replacement not yet
    # renamed — exactly a missing sidecar next to live tables
    assert fsio.delete(f"{idx}/params.json")
    with pytest.raises(ValueError, match="no params.json sidecar"):
        DD.lsh_search_index(spark, idx, docs([(8, base)]))

    # 5. remedy named by the error: rebuild — sidecar restored through
    # the same fallback, search green again
    DD.lsh_build_index(docs([(1, base), (2, other)]), idx)
    hits = DD.lsh_search_index(spark, idx, docs([(8, base)])).collect()
    assert {r.doc_id: r.is_near_dup for r in hits} == {8: True}

    # 6. crash between the 'pending' marker and the appends' commit —
    # the marker write itself ran on the fallback path
    DD._lsh_append_marker(idx, "pending")
    with pytest.raises(ValueError, match="append"):
        DD.lsh_search_index(spark, idx, docs([(8, base)]))

    # 7. rebuild clears the stale marker (ADVICE r8 behavior, now
    # proven on the fallback branch) and the lifecycle is healthy
    DD.lsh_build_index(docs([(1, base), (2, other)]), idx)
    final = DD.lsh_search_index(
        spark, idx, docs([(8, base), (9, other), (10, "nothing alike here")])
    ).collect()
    assert {r.doc_id: r.is_near_dup for r in final} == {
        8: True, 9: True, 10: False,
    }


# --- portability lint -------------------------------------------------------

# Engine modules whose artifact/data/index/model paths must be
# scheme-portable: every byte they put on or read from storage goes
# through Spark writers/readers or fsio, so a gs:// deployment works
# end-to-end. artifacts.py and queries.py are deliberately NOT here:
# artifacts.py is the registry's driver-local artifact cache module
# (_cache_root — XDG/tempdir by contract, never a data path), and
# queries.py's os/shutil use stages fixtures for oracle checks.
# tests/ and tools/ are driver-side tooling.
_ENGINE_DIRS = ("operators", "sources", "plans", "streaming", "functions")
_ENGINE_TOP = (
    "catalog.py", "datagen.py", "exact.py", "service.py", "session.py",
    "__init__.py",
)

# (module basename, qualified call) pairs allowed despite matching the
# banned shapes. fsio.py IS the portability layer, so its Hadoop-FS
# plumbing is the one place such calls belong.
_ALLOW = {
    ("fsio.py", "*"),
}

_BANNED_ATTR_CALLS = {
    ("os", "makedirs"), ("os", "remove"), ("os", "rename"),
    ("os", "replace"), ("os", "rmdir"), ("os", "listdir"),
    ("os", "mkdir"), ("shutil", "rmtree"), ("shutil", "copy"),
    ("shutil", "copytree"), ("shutil", "move"),
}
_BANNED_OS_PATH = {"exists", "isfile", "isdir", "getsize"}


def _banned_calls(tree: ast.AST) -> list[str]:
    hits = []
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call):
            continue
        f = node.func
        # builtin open(...) — filesystem; attribute opens (wave.open,
        # gzip.open on BytesIO) are in-memory codec paths and fine
        if isinstance(f, ast.Name) and f.id == "open":
            hits.append(f"open() at line {node.lineno}")
        if isinstance(f, ast.Attribute) and isinstance(f.value, ast.Name):
            if (f.value.id, f.attr) in _BANNED_ATTR_CALLS:
                hits.append(f"{f.value.id}.{f.attr} at line {node.lineno}")
        # os.path.exists / isfile / ...
        if (
            isinstance(f, ast.Attribute)
            and f.attr in _BANNED_OS_PATH
            and isinstance(f.value, ast.Attribute)
            and f.value.attr == "path"
            and isinstance(f.value.value, ast.Name)
            and f.value.value.id == "os"
        ):
            hits.append(f"os.path.{f.attr} at line {node.lineno}")
    return hits


def test_engine_modules_have_no_local_fs_io():
    """No engine module may touch storage through the local-FS stdlib:
    data goes through Spark writers, sidecars through fsio. This pins
    r9's portability fix (dedup params/append_state, mlquality meta)
    so a local open() on an index/model path can't silently return."""
    import etl_project_gcp_spark as pkg

    root = os.path.dirname(pkg.__file__)
    offenders = {}
    targets = []
    for d in _ENGINE_DIRS:
        full = os.path.join(root, d)
        targets += [
            os.path.join(full, f)
            for f in sorted(os.listdir(full))
            if f.endswith(".py")
        ]
    targets += [os.path.join(root, f) for f in _ENGINE_TOP]
    assert len(targets) > 10  # the sweep actually found the package
    for path in targets:
        base = os.path.basename(path)
        if (base, "*") in _ALLOW:
            continue
        with open(path) as fh:  # test-side read, not engine code
            tree = ast.parse(fh.read(), filename=path)
        hits = _banned_calls(tree)
        if hits:
            offenders[base] = hits
    assert not offenders, (
        "local-FS I/O in engine modules (route sidecars through "
        f"sources/fsio.py): {offenders}"
    )


def test_pin_module_consistent_with_pin_tool():
    """No-Spark consistency pins: the pin module covers exactly the
    entries tools/pin_ann.py regenerates, every entry pins all three
    SFs with its declared schema arity, and queries.py registers a
    generated oracle for each (a pinned entry silently dropping its
    oracle would demote it back to rows-only without anyone noticing)."""
    import importlib.util
    import sys

    from etl_project_gcp_spark._ann_pins import PINNED

    tool_path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "tools", "pin_ann.py",
    )
    spec = importlib.util.spec_from_file_location("pin_ann", tool_path)
    tool = importlib.util.module_from_spec(spec)
    sys.modules["pin_ann"] = tool
    spec.loader.exec_module(tool)
    assert set(PINNED) == set(tool.PINNED_ENTRIES)
    from etl_project_gcp_spark import queries as Q

    oracles = Q.oracle_sql()
    for name, entry in PINNED.items():
        assert entry["schema"] == tool.PINNED_ENTRIES[name]
        assert set(entry["pins"]) == set(tool.SFS)
        arity = len(entry["schema"].split(","))
        for sf, rows in entry["pins"].items():
            assert rows == sorted(rows), (name, sf)
            assert all(len(r) == arity for r in rows), (name, sf)
        assert name in oracles and "VALUES" in oracles[name], name


def test_no_shadowed_test_names_anywhere():
    """Two same-named tests in one module: the second silently shadows
    the first and it never runs (found live in r9 — a dead
    merge_upsert property test). Pin uniqueness so a dead test can't
    hide again."""
    import glob

    dups = {}
    here = os.path.dirname(os.path.abspath(__file__))
    for path in glob.glob(os.path.join(here, "test_*.py")):
        tree = ast.parse(open(path).read())
        names = [
            n.name
            for n in tree.body
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
            and n.name.startswith("test_")
        ]
        seen: set[str] = set()
        d = [n for n in names if n in seen or seen.add(n)]
        if d:
            dups[os.path.basename(path)] = d
    assert not dups, f"shadowed (never-running) tests: {dups}"
