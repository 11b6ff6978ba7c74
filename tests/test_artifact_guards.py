"""Every on-disk artifact must be published through ONE atomic protocol.

The llm_image_dedup_index poisoning (round 13's one sweep failure): a
killed build left an empty bands/ dir and a bare isdir() guard served it
forever. The mechanical invariant: every function that derives an
artifact path from _sf_cache_dir publishes it through one of —

* ``_at_rest`` — the one helper for every directory artifact: the
                 build runs into a process-unique stage, the single
                 completion marker is written last and _promote_stage
                 renames the stage into place (evicting a marker-less
                 husk), so the path only ever appears complete;
* ``_json_sidecar_read`` — atomic tmp+rename JSON (the learned
                 BPE/unigram tables) whose corrupt/partial reads degrade
                 to a miss;
* ``snapshot_versions`` — the sinks/snapshots manifest protocol (q81: a
                 version is visible only after the pointer flip).

No artifact function renames, mkdtemp's or DataFrame-writes its cache
path itself. ARTIFACTS.md carries the matching human-readable manifest (builder +
measured cold cost per artifact)."""

from __future__ import annotations

import ast
import os

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "crowdsorsa_etl_spark")

_ATOMIC_MARKERS = (
    "_at_rest",
    "_json_sidecar_read",
    "snapshot_versions",
)


def _functions_using_cache_dir():
    """Yield (file, funcname, source_segment) for every function whose
    body calls _sf_cache_dir."""
    for root, _dirs, files in os.walk(PKG):
        for f in files:
            if not f.endswith(".py"):
                continue
            path = os.path.join(root, f)
            with open(path) as fh:
                src = fh.read()
            if "_sf_cache_dir(" not in src:
                continue
            tree = ast.parse(src)
            for node in ast.walk(tree):
                if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    continue
                seg = ast.get_source_segment(src, node) or ""
                if "_sf_cache_dir(" in seg and "def _sf_cache_dir" not in seg:
                    yield (
                        os.path.relpath(path, os.path.dirname(PKG)),
                        node.name,
                        seg,
                    )


def test_every_artifact_reader_is_atomically_guarded():
    found = list(_functions_using_cache_dir())
    assert found, "no _sf_cache_dir users found — test wiring broken"
    bad = []
    for path, name, seg in found:
        if not any(m in seg for m in _ATOMIC_MARKERS):
            bad.append(f"{path}::{name}")
    assert not bad, (
        "artifact readers without an atomic completion guard "
        f"({'/'.join(_ATOMIC_MARKERS)}): {bad}"
    )


def test_no_bare_isdir_guard_on_artifact_paths():
    """isdir() alone cannot distinguish a finished artifact from a killed
    build's husk; any isdir in an artifact function must be accompanied
    by an atomic marker check in the same function (the markers test
    above guarantees one exists — this pins the specific regression)."""
    for path, name, seg in _functions_using_cache_dir():
        if "os.path.isdir(" in seg:
            assert any(m in seg for m in _ATOMIC_MARKERS), (
                f"{path}::{name} guards an artifact with bare isdir()"
            )


# The only calls that may write under a cache path themselves: atomic
# JSON sidecars and the q81 snapshot store's pointer-flip protocol.
_ATOMIC_WRITERS = ("_json_sidecar_write", "snapshot_write")


def _dotted(func) -> list[str]:
    """['df', 'write', 'mode', 'parquet'] for ``df.write.mode(..).parquet``."""
    parts = []
    while isinstance(func, (ast.Attribute, ast.Call)):
        if isinstance(func, ast.Call):
            func = func.func
        else:
            parts.append(func.attr)
            func = func.value
    if isinstance(func, ast.Name):
        parts.append(func.id)
    return parts[::-1] or [""]


def _names(node) -> set[str]:
    return {n.id for n in ast.walk(node) if isinstance(n, ast.Name)}


_PATH_SOURCES = {"_sf_cache_dir", "_at_rest"}


def test_no_artifact_is_published_by_hand():
    """Only _at_rest creates a cache path: no artifact function renames
    into it, builds in a mkdtemp dir, or points a writer at it (an
    in-place write.mode("overwrite") deletes files a concurrent reader is
    scanning; a bare rename never evicts a marker-less husk)."""
    bad = []
    for path, name, seg in _functions_using_cache_dir():
        fn = ast.parse(seg)
        # names bound to a cache path, directly or derived (os.path.join)
        assigns = [n for n in ast.walk(fn) if isinstance(n, ast.Assign)]
        cache: set[str] = set()
        while True:
            bound = {
                t.id for a in assigns for t in a.targets
                if isinstance(t, ast.Name)
                and _names(a.value) & (cache | _PATH_SOURCES)
            }
            if bound <= cache:
                break
            cache |= bound
        for call in (n for n in ast.walk(fn) if isinstance(n, ast.Call)):
            chain = _dotted(call.func)
            if chain in (["os", "rename"], ["os", "replace"]) or (
                chain[-1] == "mkdtemp"
            ):
                bad.append(f"{path}::{name} calls {'.'.join(chain)}")
                continue
            writer = "write" in chain or any(
                w in chain[-1] for w in ("write", "append")
            )
            if not writer or chain[-1] in _ATOMIC_WRITERS:
                continue
            args = list(call.args) + [k.value for k in call.keywords]
            if any(_names(a) & (cache | _PATH_SOURCES) for a in args):
                bad.append(
                    f"{path}::{name} writes its cache path via "
                    + ".".join(chain)
                )
    assert not bad, f"artifacts published outside _at_rest: {bad}"


def test_manifest_covers_every_artifact_tag():
    """ARTIFACTS.md must list every _sf_cache_dir tag used in the
    package (the manifest is the cold-cost contract a fresh sandbox
    reads before its first sweep)."""
    import re

    repo = os.path.dirname(PKG)
    with open(os.path.join(repo, "ARTIFACTS.md")) as fh:
        manifest = fh.read()
    tags = set()
    for _path, _name, seg in _functions_using_cache_dir():
        for m in re.finditer(r"_sf_cache_dir\(\s*[^,]+,\s*(f?)(['\"])(.+?)\2", seg):
            tag = m.group(3)
            tag = re.sub(r"\{[^}]*\}", "*", tag)  # f-string fields -> glob
            tags.add(tag)
    missing = sorted(t for t in tags if t.split("*")[0] not in manifest)
    assert not missing, f"artifact tags missing from ARTIFACTS.md: {missing}"


def test_promote_stage_evicts_markerless_husk(tmp_path):
    """The ADVICE r14 medium: os.rename(stage, path) fails ENOTEMPTY
    when an old marker-less cache dir occupies path — the loser branch
    must evict the husk and retry, not discard the fresh build while the
    husk is served forever."""
    from crowdsorsa_etl_spark.queries._shared import _promote_stage

    path = tmp_path / "idx"
    stage = tmp_path / "idx.stage.123"
    # pre-existing husk: data but NO completion marker
    path.mkdir()
    (path / "part-0").write_text("stale")
    stage.mkdir()
    (stage / "part-0").write_text("fresh")
    (stage / "_SUCCESS").write_text("")
    _promote_stage(str(stage), str(path))
    assert (path / "_SUCCESS").exists()
    assert (path / "part-0").read_text() == "fresh"
    assert not stage.exists()


def test_promote_stage_respects_complete_winner(tmp_path):
    """When the occupant IS complete (a concurrent builder won), the
    loser discards its stage and the winner's bytes are served."""
    from crowdsorsa_etl_spark.queries._shared import _promote_stage

    path = tmp_path / "idx"
    stage = tmp_path / "idx.stage.456"
    path.mkdir()
    (path / "part-0").write_text("winner")
    (path / "_SUCCESS").write_text("")
    stage.mkdir()
    (stage / "part-0").write_text("loser")
    (stage / "_SUCCESS").write_text("")
    _promote_stage(str(stage), str(path))
    assert (path / "part-0").read_text() == "winner"
    assert not stage.exists()


def test_promote_stage_clean_first_promotion(tmp_path):
    from crowdsorsa_etl_spark.queries._shared import _promote_stage

    path = tmp_path / "idx"
    stage = tmp_path / "idx.stage.789"
    stage.mkdir()
    (stage / "_SUCCESS").write_text("")
    _promote_stage(str(stage), str(path))
    assert (path / "_SUCCESS").exists() and not stage.exists()


def test_at_rest_builds_once(tmp_path):
    from crowdsorsa_etl_spark.queries._shared import _at_rest

    calls = []

    def build(stage):
        calls.append(stage)
        os.makedirs(stage)
        with open(os.path.join(stage, "part-0"), "w") as fh:
            fh.write("built")

    path = str(tmp_path / "idx")
    assert _at_rest(path, build) == path
    assert _at_rest(path, build) == path
    assert len(calls) == 1
    assert (tmp_path / "idx" / "part-0").read_text() == "built"
    assert (tmp_path / "idx" / "_SUCCESS").exists()
    assert os.listdir(tmp_path) == ["idx"]  # the stage was promoted


def test_at_rest_failed_build_publishes_nothing(tmp_path):
    import pytest

    from crowdsorsa_etl_spark.queries._shared import _at_rest

    def broken(stage):
        os.makedirs(stage)
        (tmp_path / os.path.basename(stage) / "part-0").write_text("half")
        raise RuntimeError("killed mid-build")

    path = str(tmp_path / "idx")
    with pytest.raises(RuntimeError):
        _at_rest(path, broken)
    assert os.listdir(tmp_path) == []  # no path, no stage left behind
    _at_rest(path, lambda stage: os.makedirs(stage))
    assert (tmp_path / "idx" / "_SUCCESS").exists()


def test_at_rest_ignores_markerless_leftover_stage(tmp_path):
    """A killed build's stage (this pid reused, or another pid's) is never
    served: the artifact is rebuilt from scratch and only its bytes are
    published."""
    from crowdsorsa_etl_spark.queries._shared import _at_rest

    for pid in (os.getpid(), 999999):
        husk = tmp_path / f"idx.stage.{pid}"
        husk.mkdir()
        (husk / "part-0").write_text("stale")
        (husk / "part-1").write_text("stale")

    def build(stage):
        os.makedirs(stage)
        with open(os.path.join(stage, "part-0"), "w") as fh:
            fh.write("fresh")

    path = _at_rest(str(tmp_path / "idx"), build)
    assert sorted(os.listdir(path)) == ["_SUCCESS", "part-0"]
    assert (tmp_path / "idx" / "part-0").read_text() == "fresh"


# --- streaming tier: one epoch-versioned state protocol -----------------

STREAMING = os.path.join(PKG, "streaming", "pipeline.py")

# the bare-int() / isdigit() parses, and any directory listing (the regex
# listings in compact_shard_epochs were the third parser)
_EPOCH_PARSE = ('startswith("epoch=")', 'split("=", 1)', "os.listdir(")


def _epoch_protocol_violations(src: str) -> list[str]:
    """Epoch-dir listing outside ``_epochs`` and local-row state writes
    (``createDataFrame(...)`` narrowed to one partition and written)
    outside ``_write_state_rows``."""
    tree = ast.parse(src)
    owner = {}  # line -> name of the top-level function containing it
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            for ln in range(node.lineno, node.end_lineno + 1):
                owner[ln] = node.name
    bad = []
    for ln, line in enumerate(src.splitlines(), 1):
        if owner.get(ln) != "_epochs" and any(p in line for p in _EPOCH_PARSE):
            bad.append(f"line {ln}: hand-rolled epoch listing: {line.strip()}")
    for node in ast.walk(tree):
        if not (isinstance(node, ast.Attribute) and node.attr == "write"):
            continue
        narrow = node.value
        if not (
            isinstance(narrow, ast.Call)
            and isinstance(narrow.func, ast.Attribute)
            and narrow.func.attr in ("coalesce", "repartition")
            and [ast.unparse(a) for a in narrow.args] == ["1"]
            and "createDataFrame" in _dotted(narrow.func.value)
        ):
            continue
        if owner.get(node.lineno) != "_write_state_rows":
            bad.append(f"line {node.lineno}: local-row write by hand")
    return bad


def test_streaming_state_goes_through_the_epoch_helpers():
    """Every stream lists its ``epoch=<n>`` dirs through ``_epochs`` /
    ``_newest_before`` and writes driver-side state rows through
    ``_write_state_rows``: one parser (a stray ``epoch=0__old`` once
    crashed the bare-``int()`` readers) and one write posture."""
    with open(STREAMING) as fh:
        bad = _epoch_protocol_violations(fh.read())
    assert not bad, f"streaming/pipeline.py bypasses the epoch helpers: {bad}"


def test_epoch_guard_flags_hand_rolled_sites():
    src = '''
def _epochs(root):
    return [d.split("=", 1)[1] for d in os.listdir(root)]

def _write_state_rows(spark, rows, schema, path):
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(path)

def start_x_stream(spark, root, e):
    prior = [d for d in os.listdir(root) if d.startswith("epoch=")]
    (
        spark.createDataFrame([(1,)], "n long")
        .repartition(1)
        .write.mode("overwrite")
        .parquet(root)
    )
'''
    bad = _epoch_protocol_violations(src)
    assert len(bad) == 2 and "line 9" in bad[0] and "line 11" in bad[1], bad


# --- query registry: one order list, one module per domain --------------

QUERIES_DIR = os.path.join(PKG, "queries")


def test_registry_order_is_the_canonical_list():
    from crowdsorsa_etl_spark.queries import _ORDER, ORACLES, QUERIES

    assert len(_ORDER) == len(set(_ORDER)) == 301
    assert list(QUERIES) == _ORDER
    assert list(ORACLES) == [n for n in _ORDER if n in ORACLES]


def test_order_check_rejects_a_registered_but_unlisted_name():
    import pytest

    from crowdsorsa_etl_spark.queries import _apply_order

    with pytest.raises(ImportError, match=r"not listed \['b'\]"):
        _apply_order({"a": 1, "b": 2}, {}, ["a"])


def test_order_check_rejects_a_listed_but_unregistered_name():
    import pytest

    from crowdsorsa_etl_spark.queries import _apply_order

    with pytest.raises(ImportError, match=r"not registered \['c'\]"):
        _apply_order({"a": 1, "b": 2}, {}, ["a", "b", "c"])


def test_order_check_reorders_both_dicts_in_place():
    from crowdsorsa_etl_spark.queries import _apply_order

    queries = {"c": 3, "a": 1, "b": 2}
    oracles = {"c": "C", "a": "A"}
    _apply_order(queries, oracles, ["a", "b", "c"])
    assert list(queries.items()) == [("a", 1), ("b", 2), ("c", 3)]
    assert list(oracles.items()) == [("a", "A"), ("c", "C")]


def _registry_layout_violations(qdir: str) -> list[str]:
    """Modules named after the build round that added them (``round*``,
    ``*_pack``) and function-level imports, for every module in ``qdir``."""
    bad = []
    for f in sorted(os.listdir(qdir)):
        if not f.endswith(".py"):
            continue
        stem = f[:-3]
        if stem.startswith("round") or stem.endswith("_pack"):
            bad.append(f"{f}: round-named module")
        with open(os.path.join(qdir, f)) as fh:
            tree = ast.parse(fh.read())
        local = {
            sub.lineno
            for node in ast.walk(tree)
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
            for sub in ast.walk(node)
            if isinstance(sub, (ast.Import, ast.ImportFrom))
        }
        bad += [f"{f}:{ln}: function-level import" for ln in sorted(local)]
    return bad


def test_query_modules_are_domains_with_hoisted_imports():
    """Queries are grouped by what they compute and each module imports
    its dependencies once, at the top."""
    bad = _registry_layout_violations(QUERIES_DIR)
    assert not bad, bad


def test_registry_layout_guard_flags_round_modules_and_local_imports(tmp_path):
    (tmp_path / "round9_pack.py").write_text("X = 1\n")
    (tmp_path / "llm_pack.py").write_text("Y = 2\n")
    (tmp_path / "sketches.py").write_text(
        "import os\n\n\n"
        "def q(spark, sf_dir):\n"
        "    import json\n"
        "    from os import path\n"
        "\n"
        "    def inner():\n"
        "        import math\n"
        "        return math.pi\n"
        "    return json, path, inner\n"
    )
    assert _registry_layout_violations(str(tmp_path)) == [
        "llm_pack.py: round-named module",
        "round9_pack.py: round-named module",
        "sketches.py:5: function-level import",
        "sketches.py:6: function-level import",
        "sketches.py:9: function-level import",
    ]
