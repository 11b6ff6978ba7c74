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

from crowdsorsa_etl_spark.operators.checkpointing import materialize

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

# the bare-int() / isdigit() parses, and any directory listing
_EPOCH_PARSE = ('startswith("epoch=")', 'split("=", 1)', "os.listdir(")


def _owners(tree) -> dict[int, str]:
    """line -> name of the top-level function or assignment holding it."""
    owner = {}
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            name = node.name
        elif isinstance(node, ast.Assign) and isinstance(
            node.targets[0], ast.Name
        ):
            name = node.targets[0].id
        else:
            continue
        for ln in range(node.lineno, node.end_lineno + 1):
            owner[ln] = name
    return owner


def _epoch_protocol_violations(src: str) -> list[str]:
    """Epoch-dir listing outside ``_epochs`` and local-row state writes
    (``createDataFrame(...)`` narrowed to one partition and written)
    outside ``_write_state_rows``."""
    tree = ast.parse(src)
    owner = _owners(tree)
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


def _epoch_runner_violations(src: str) -> list[str]:
    """Stream wiring, prior-state reads, epoch-path formatting and imports
    that bypass the module's one place for each: ``foreachBatch`` outside
    ``_start_per_epoch`` (which must hold exactly one), ``_newest_before``
    called from anywhere but ``_prior_state``, an ``epoch=`` string or
    f-string outside ``_EPOCH_DIR``/``_epoch_dir`` (docstrings exempt),
    and any function-level import."""
    tree = ast.parse(src)
    owner = _owners(tree)
    docstrings = {
        id(n.body[0].value)
        for n in ast.walk(tree)
        if isinstance(
            n, (ast.Module, ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
        )
        and n.body
        and isinstance(n.body[0], ast.Expr)
        and isinstance(n.body[0].value, ast.Constant)
    }
    bad = []
    wirings = 0
    for node in ast.walk(tree):
        where = owner.get(getattr(node, "lineno", 0))
        if isinstance(node, ast.Call):
            chain = _dotted(node.func)
            if chain[-1] == "foreachBatch":
                if where == "_start_per_epoch":
                    wirings += 1
                else:
                    bad.append((node.lineno, "foreachBatch outside the runner"))
            if chain == ["_newest_before"] and where != "_prior_state":
                bad.append((node.lineno, "_newest_before outside _prior_state"))
        elif (
            isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and "epoch=" in node.value
            and id(node) not in docstrings
            and where not in ("_EPOCH_DIR", "_epoch_dir")
        ):
            bad.append((node.lineno, "hand-formatted epoch= path"))
        elif isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            bad += [
                (sub.lineno, "function-level import")
                for sub in ast.walk(node)
                if isinstance(sub, (ast.Import, ast.ImportFrom))
            ]
    if wirings != 1:
        bad.append((0, f"{wirings} foreachBatch calls in _start_per_epoch"))
    return [f"line {ln}: {what}" for ln, what in sorted(set(bad))]


def test_streaming_tier_has_one_epoch_runner():
    """Every stream starts through ``_start_per_epoch``, reads its prior
    state through ``_prior_state`` and formats ``epoch=<e>`` paths through
    ``_epoch_dir``; the module imports its dependencies once, at the top."""
    with open(STREAMING) as fh:
        bad = _epoch_runner_violations(fh.read())
    assert not bad, f"streaming/pipeline.py bypasses the epoch runner: {bad}"


def test_epoch_runner_guard_flags_hand_wired_sites():
    src = '''
_EPOCH_DIR = re.compile(r"epoch=(-?\\d+)")

def _epoch_dir(root, e):
    return f"{root}/epoch={e}"

def _prior_state(spark, root, e, schema):
    return _newest_before(root, e)

def _start_per_epoch(stream, on_epoch):
    return stream.writeStream.foreachBatch(on_epoch).start()

def start_x_stream(stream, root):
    """Writes ``root/epoch=<e>``."""
    import math

    def on_batch(batch_df, e):
        prev = _newest_before(root, e)
        batch_df.write.parquet(f"{root}/epoch={e}")
        return math.pi, prev

    return stream.writeStream.foreachBatch(on_batch).start()
'''
    assert _epoch_runner_violations(src) == [
        "line 15: function-level import",
        "line 18: _newest_before outside _prior_state",
        "line 19: hand-formatted epoch= path",
        "line 22: foreachBatch outside the runner",
    ]
    no_runner = src.replace(".foreachBatch(on_epoch)", "")
    assert _epoch_runner_violations(no_runner)[0] == (
        "line 0: 0 foreachBatch calls in _start_per_epoch"
    )


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


def _function_level_imports(path: str) -> list[str]:
    with open(path) as fh:
        tree = ast.parse(fh.read())
    local = {
        sub.lineno
        for node in ast.walk(tree)
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
        for sub in ast.walk(node)
        if isinstance(sub, (ast.Import, ast.ImportFrom))
    }
    f = os.path.basename(path)
    return [f"{f}:{ln}: function-level import" for ln in sorted(local)]


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
        bad += _function_level_imports(os.path.join(qdir, f))
    return bad


def test_query_modules_are_domains_with_hoisted_imports():
    """Queries are grouped by what they compute and each module imports
    its dependencies once, at the top."""
    bad = _registry_layout_violations(QUERIES_DIR)
    assert not bad, bad


# operator modules that import their dependencies once, at the top
_HOISTED_OPERATORS = (
    "curation.py",
    "dedup.py",
    "multimodal.py",
    "pq.py",
    "setsim.py",
    "similarity.py",
)


def test_sink_modules_hoist_their_imports():
    """The sinks and the hoisted operator modules import their
    dependencies once, at the top: ``writers`` needs only pyspark,
    ``ledger`` imports ``writers`` and ``http_push`` imports ``ledger``;
    ``pq`` imports ``similarity``, which imports neither ``pq`` nor
    ``curation``, and ``setsim`` imports ``dedup``, which does not import
    ``setsim``, so no cycle calls for a local import."""
    bad = _registry_layout_violations(os.path.join(PKG, "sinks"))
    for f in _HOISTED_OPERATORS:
        bad += _function_level_imports(os.path.join(PKG, "operators", f))
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


# --- one materialization point: operators/checkpointing.materialize ------

CHECKPOINTING = os.path.join(PKG, "operators", "checkpointing.py")


def _materialization_violations(src: str) -> list[str]:
    """Direct ``.localCheckpoint(`` / ``.checkpoint(`` calls and any
    ``reliable_checkpoints`` identifier (the per-call loss-tolerance flag
    the session's checkpoint dir replaced)."""
    bad = []
    for node in ast.walk(ast.parse(src)):
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in ("localCheckpoint", "checkpoint")
        ):
            bad.append((node.lineno, f"direct .{node.func.attr}("))
        name = (
            getattr(node, "id", None)
            or getattr(node, "arg", None)
            or getattr(node, "attr", None)
        )
        if name == "reliable_checkpoints":
            bad.append((node.lineno, "reliable_checkpoints"))
    return [f"line {ln}: {what}" for ln, what in sorted(bad)]


def test_every_lineage_cut_goes_through_materialize():
    """Only ``operators/checkpointing.py`` calls Spark's checkpoint APIs,
    so whether a cut survives executor loss is decided in one place (the
    session's checkpoint dir), never per call site."""
    bad = []
    for dirpath, _, files in os.walk(PKG):
        for f in sorted(files):
            path = os.path.join(dirpath, f)
            if not f.endswith(".py") or path == CHECKPOINTING:
                continue
            with open(path) as fh:
                found = _materialization_violations(fh.read())
            bad += [f"{os.path.relpath(path, PKG)}: {v}" for v in found]
    assert not bad, bad


def test_materialization_guard_flags_direct_checkpoints():
    src = '''
def pin(df):
    return df.localCheckpoint()

def rank(edges, *, reliable_checkpoints=False):
    e = edges.distinct().checkpoint(eager=True)
    return pin(e), reliable_checkpoints
'''
    assert _materialization_violations(src) == [
        "line 3: direct .localCheckpoint(",
        "line 5: reliable_checkpoints",
        "line 6: direct .checkpoint(",
        "line 7: reliable_checkpoints",
    ]


def _checkpoint_file(df):
    """The checkpoint dir of the RDD behind a materialized frame, or None
    for a local (executor block manager) checkpoint."""
    f = df._jdf.queryExecution().analyzed().rdd().getCheckpointFile()
    return f.get().removeprefix("file:") if f.isDefined() else None


def test_materialize_is_local_without_a_checkpoint_dir(spark):
    assert spark.sparkContext.getCheckpointDir() is None
    df = spark.range(0, 100, 1, 4)
    for eager in (True, False):
        out = materialize(df, eager=eager)
        assert _checkpoint_file(out) is None
        assert sorted(r.id for r in out.collect()) == list(range(100))


def test_materialize_writes_reliable_files_eagerly_with_a_dir(spark, tmp_path):
    """With a checkpoint dir set, even ``eager=False`` has written its
    files by the time ``materialize`` returns: a lazy reliable checkpoint
    would evaluate its input a second time to write them."""
    spark.sparkContext.setCheckpointDir(str(tmp_path))
    try:
        df = spark.range(0, 100, 1, 4)
        for eager in (True, False):
            out = materialize(df, eager=eager)
            path = _checkpoint_file(out)
            assert path is not None and path.startswith(str(tmp_path))
            assert any(f.startswith("part-") for f in os.listdir(path))
            assert sorted(r.id for r in out.collect()) == list(range(100))
    finally:
        spark.sparkContext.setCheckpointDir(None)


# --- parameters only where a caller sets one -----------------------------

REPO = os.path.dirname(PKG)
_CALLER_TREES = (
    "crowdsorsa_etl_spark",
    "perfbench",
    "tools",
    "examples",
    "tests",
    "bench.py",
    "__spark_entry__.py",
)

# modules whose signatures the sweep leaves alone
_UNSWEPT_MODULES = {
    "parity_oracles.py": "the DuckDB reference side; its SQL feeds the ORACLES digest",
    "lsh_oracles.py": "the DuckDB reference side; its SQL feeds the ORACLES digest",
}

# defaults that stay without a caller: deployment and outside-input settings
_UNCALLED_DEFAULTS_OK = {
    "documents_2023.source_id": "the laji.fi source a deployment registers",
    "documents_2024.source_id": "the laji.fi source a deployment registers",
    "read_shapefile_zip.encoding": "the DBF code page of an outside archive",
    "write_shapefile_zip.encoding": "the DBF code page of an outside archive",
}

_TRANSPARENT_DECORATORS = {"staticmethod", "classmethod"}


def _py_sources(root: str, trees) -> dict[str, str]:
    out = {}
    for t in trees:
        top = os.path.join(root, t)
        walk = [(root, [], [t])] if t.endswith(".py") else os.walk(top)
        for dirpath, _dirs, files in walk:
            for f in files:
                if f.endswith(".py"):
                    path = os.path.join(dirpath, f)
                    with open(path) as fh:
                        out[os.path.relpath(path, root)] = fh.read()
    return out


def _callee(func) -> str | None:
    if isinstance(func, ast.Name):
        return func.id
    if isinstance(func, ast.Attribute):
        return func.attr
    return None


def _uncalled_defaults(package: dict[str, str], callers: dict[str, str]) -> list[str]:
    """``module::function.param`` for every defaulted parameter of a
    ``def`` in ``package`` that no call in ``callers`` sets, by keyword or
    by position. Calls are matched by name (``f(...)``, ``m.f(...)``), a
    class call by its ``__init__``. A function the walk cannot see every
    call of is skipped rather than guessed at: one referenced as a value
    (a UDF, callback, decorated query or dict entry), one decorated, one
    reached by a ``*args``/``**kwargs`` call, and a ``x=x`` loop binding."""
    trees = [ast.parse(src) for src in callers.values()]
    real = {}  # ``from m import f as g``: g -> f
    for tree in trees:
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom):
                for a in node.names:
                    if a.asname:
                        real[a.asname] = a.name
    calls: dict[str, list[tuple[int, set]]] = {}
    opaque: set[str] = set()
    for tree in trees:
        in_call = {id(n.func) for n in ast.walk(tree) if isinstance(n, ast.Call)}
        for node in ast.walk(tree):
            if isinstance(node, ast.Call):
                name = _callee(node.func)
                if name is None:
                    continue
                name = real.get(name, name)
                if any(isinstance(a, ast.Starred) for a in node.args) or any(
                    k.arg is None for k in node.keywords
                ):
                    opaque.add(name)
                calls.setdefault(name, []).append(
                    (len(node.args), {k.arg for k in node.keywords})
                )
            elif id(node) not in in_call and isinstance(node, ast.Name):
                if isinstance(node.ctx, ast.Load):
                    opaque.add(real.get(node.id, node.id))
            elif id(node) not in in_call and isinstance(node, ast.Attribute):
                opaque.add(node.attr)

    bad = []
    for mod, src in package.items():
        if os.path.basename(mod) in _UNSWEPT_MODULES:
            continue
        tree = ast.parse(src)
        owner = {
            id(d): n
            for n in ast.walk(tree)
            if isinstance(n, ast.ClassDef)
            for d in n.body
        }
        for node in ast.walk(tree):
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            decos = {_callee(d) for d in node.decorator_list}
            if decos - _TRANSPARENT_DECORATORS:
                continue
            cls = owner.get(id(node))
            name, shift = node.name, 0
            label = node.name if cls is None else f"{cls.name}.{node.name}"
            if cls is not None and "staticmethod" not in decos:
                shift = 1
                if name == "__init__":
                    name = cls.name
                elif name.startswith("__"):
                    continue
            if name in opaque:
                continue
            a = node.args
            positional = a.posonlyargs + a.args
            pairs = list(zip(positional[len(positional) - len(a.defaults):], a.defaults))
            pairs += [(p, d) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
            for p, default in pairs:
                if isinstance(default, ast.Name) and default.id == p.arg:
                    continue
                if f"{label}.{p.arg}" in _UNCALLED_DEFAULTS_OK:
                    continue
                idx = positional.index(p) - shift if p in positional else None
                if any(
                    p.arg in kws or (idx is not None and npos > idx)
                    for npos, kws in calls.get(name, [])
                ):
                    continue
                bad.append(f"{mod}::{label}.{p.arg}")
    return sorted(bad)


def test_every_default_has_a_caller():
    """A defaulted parameter no call site sets is a constant with a second
    name: each one doubles the configurations nobody runs. Keep it inline
    (or a module constant) until a caller needs another value."""
    package = _py_sources(REPO, ["crowdsorsa_etl_spark"])
    bad = _uncalled_defaults(package, _py_sources(REPO, _CALLER_TREES))
    assert not bad, f"{len(bad)} defaulted parameters without a caller: {bad}"


def test_default_guard_flags_never_set_defaults_and_skips_unseen_calls():
    module = """
def f(a, b=1, *, c="x", d=2):
    return a, b, c, d

def g(x, y=3):
    return x, y

def h(z, w=4):
    return z, w

def cb(v, u=5):
    return v, u

def loop(xs):
    out = []
    for x in xs:
        def step(x=x):
            return x
        out.append(step())
    return out

class K:
    def __init__(self, n, m=6):
        self.n = n

    def run(self, q=7):
        return q
"""
    use = """
from pkg.m import K, cb, f, g as gg, h

f(1, c="y")
gg(1, 2)
kw = {}
h(1, **kw)
register(cb)
K(1).run()
"""
    package = {"pkg/m.py": module}
    found = _uncalled_defaults(package, {"pkg/m.py": module, "use.py": use})
    assert found == [
        "pkg/m.py::K.__init__.m",
        "pkg/m.py::K.run.q",
        "pkg/m.py::f.b",
        "pkg/m.py::f.d",
    ]
    # a single keyword call site is enough to keep a default
    found = _uncalled_defaults(
        package, {"pkg/m.py": module, "use.py": use + "f(1, 2, d=0)\n"}
    )
    assert "pkg/m.py::f.d" not in found and "pkg/m.py::f.b" not in found


# --- code only where a non-test caller runs it ---------------------------

_NON_TEST_TREES = tuple(t for t in _CALLER_TREES if t != "tests")

# modules (path under the package) whose top-level names the sweep skips
_CALLER_SWEEP_EXEMPT = {
    "parity_oracles.py": "the DuckDB reference side: fixtures and oracle "
    "SQL the tests and the ORACLES digest read",
    "lsh_oracles.py": "the DuckDB reference side: fixtures and oracle "
    "SQL the tests and the ORACLES digest read",
}

# top-level names that stay with test callers only
_TEST_ONLY_OK = {
    "kll_cells_py": "the sequential KLL reference the KLL tests compare "
    "the closed form against",
    "kll_plan": "the per-level stream lengths the KLL tests compare the "
    "closed form against",
    "kll_quantile": "reads a quantile off the sketch the KLL accuracy "
    "tests compare against exact quantiles",
    "snapshot_repair": "crash recovery an operator runs by hand after a "
    "writer dies mid-commit",
}


def _is_registered(node) -> bool:
    return any(
        _callee(d.func if isinstance(d, ast.Call) else d) == "register"
        for d in node.decorator_list
    )


def _test_only_defs(package: dict[str, str], callers: dict[str, str]) -> list[str]:
    """``module::name`` for every top-level function or class in
    ``package`` that no file in ``callers`` names outside the definition
    itself: as a ``Name``, an attribute or an imported name. A
    ``@register`` query counts as used: the registry runs it."""
    refs: dict[str, list[tuple[str, int]]] = {}
    for mod, src in callers.items():
        for node in ast.walk(ast.parse(src)):
            if isinstance(node, ast.ImportFrom):
                names = [a.name for a in node.names]
            elif isinstance(node, ast.Name):
                names = [node.id]
            elif isinstance(node, ast.Attribute):
                names = [node.attr]
            else:
                continue
            for name in names:
                refs.setdefault(name, []).append((mod, node.lineno))

    bad = []
    for mod, src in package.items():
        if mod.split("/", 1)[-1] in _CALLER_SWEEP_EXEMPT:
            continue
        for node in ast.parse(src).body:
            if not isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                continue
            if _is_registered(node) or node.name in _TEST_ONLY_OK:
                continue
            if not any(
                not (m == mod and node.lineno <= ln <= node.end_lineno)
                for m, ln in refs.get(node.name, [])
            ):
                bad.append(f"{mod}::{node.name}")
    return sorted(bad)


def test_every_function_has_a_non_test_caller():
    """A function only tests reach is code the pipeline never runs: it
    costs reading and upkeep and its tests prove nothing about the
    product. Delete it (or fold it into its test) rather than keep it."""
    package = _py_sources(REPO, ["crowdsorsa_etl_spark"])
    bad = _test_only_defs(package, _py_sources(REPO, _NON_TEST_TREES))
    assert not bad, f"{len(bad)} functions with only test callers: {bad}"


def test_caller_guard_flags_test_only_functions(tmp_path):
    files = {
        "pkg/m.py": """
@register("q1", "SELECT 1")
def q1(spark, sf_dir):
    return helper(spark)

def helper(x):
    return x

def only_tests(n):
    return only_tests(n - 1) if n else 0

def snapshot_repair(path):
    return path

class Unused:
    pass
""",
        "pkg/streaming/pipeline.py": "def start_x_stream(df):\n    return df\n",
        "pkg/aliased.py": "def run():\n    return 1\n\n\ndef via_attr():\n    return 2\n",
        "tools/cli.py": "from pkg.aliased import run as go\n"
        "import pkg.aliased as a\n\ngo()\na.via_attr()\n",
        "tests/test_m.py": "from pkg.m import Unused, only_tests\n"
        "only_tests(2)\nUnused()\n",
    }
    for rel, src in files.items():
        (tmp_path / rel).parent.mkdir(parents=True, exist_ok=True)
        (tmp_path / rel).write_text(src)
    root = str(tmp_path)
    package = _py_sources(root, ["pkg"])
    found = _test_only_defs(package, _py_sources(root, ["pkg", "tools"]))
    # the streaming module is swept like any other
    assert found == [
        "pkg/m.py::Unused",
        "pkg/m.py::only_tests",
        "pkg/streaming/pipeline.py::start_x_stream",
    ]
    # the test file's calls would hide the first two, were tests counted
    # as callers
    everyone = _py_sources(root, ["pkg", "tools", "tests"])
    assert _test_only_defs(package, everyone) == [
        "pkg/streaming/pipeline.py::start_x_stream"
    ]


# --- every top-level import is used --------------------------------------


def _unused_imports(package: dict[str, str]) -> list[str]:
    """``module:line: name`` for every name a module-level ``import`` binds
    that nothing else in the module reads. ``__init__.py`` files are
    skipped (their imports are the package's re-exports), and so are
    ``__future__`` imports."""
    bad = []
    for mod, src in package.items():
        if os.path.basename(mod) == "__init__.py":
            continue
        tree = ast.parse(src)
        read = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
        for node in tree.body:
            if isinstance(node, ast.Import):
                bound = [a.asname or a.name.split(".")[0] for a in node.names]
            elif isinstance(node, ast.ImportFrom) and node.module != "__future__":
                bound = [a.asname or a.name for a in node.names]
            else:
                continue
            bad += [f"{mod}:{node.lineno}: {b}" for b in bound if b not in read]
    return sorted(bad)


def test_every_top_level_import_is_used():
    """An import nothing reads is a dead name the function guards above
    do not see: it costs an import at start-up and misleads a reader
    about what the module depends on."""
    bad = _unused_imports(_py_sources(REPO, ["crowdsorsa_etl_spark"]))
    assert not bad, f"{len(bad)} unused imports: {bad}"


def test_import_guard_flags_unused_names():
    package = {
        "pkg/m.py": "from __future__ import annotations\n"
        "import json\nimport os.path\nimport pyarrow as pa\n"
        "from dataclasses import dataclass, field\n"
        "from x import y as z\n\n"
        "def f() -> pa.Table:\n    return os.path.join(field(), 'a')\n",
        "pkg/__init__.py": "from pkg.m import f\n",
    }
    assert _unused_imports(package) == [
        "pkg/m.py:2: json",
        "pkg/m.py:5: dataclass",
        "pkg/m.py:6: z",
    ]


# --- the slow-tier list names only real tests ----------------------------


def _is_parametrized(fn: ast.AST) -> bool:
    return any(
        isinstance(d, ast.Call)
        and isinstance(d.func, ast.Attribute)
        and d.func.attr == "parametrize"
        for d in fn.decorator_list
    )


def _test_paths(src: str) -> dict[str, bool]:
    """``test`` and ``Class::test`` for every function a test module
    defines at top level or in a top-level class, each mapped to whether
    a ``parametrize`` decorator gives its node IDs a ``[param]`` suffix."""
    funcs = (ast.FunctionDef, ast.AsyncFunctionDef)
    paths = {}
    for node in ast.parse(src).body:
        if isinstance(node, funcs):
            paths[node.name] = _is_parametrized(node)
        elif isinstance(node, ast.ClassDef):
            for m in node.body:
                if isinstance(m, funcs):
                    paths[f"{node.name}::{m.name}"] = _is_parametrized(m)
    return paths


def _stale_slow_entries(root: str, entries: list[str]) -> list[str]:
    """Entries (``file::[Class::]test[param]``) whose file is missing,
    defines no such test, or whose ``[param]`` suffix does not match the
    test: a suffix on an unparametrized test, or none on a parametrized
    one. conftest matches node IDs exactly, so either mismatch matches
    nothing. The suffix's value is not checked."""
    defined: dict[str, dict[str, bool]] = {}
    bad = []
    for entry in entries:
        node, bracket, _ = entry.partition("[")
        path, _, rest = node.partition("::")
        if path not in defined:
            full = os.path.join(root, path)
            if os.path.isfile(full):
                with open(full) as fh:
                    defined[path] = _test_paths(fh.read())
            else:
                defined[path] = {}
        if defined[path].get(rest) != bool(bracket):
            bad.append(entry)
    return bad


def test_slow_list_names_only_real_tests():
    """conftest marks the tests/slow_tests.txt entries slow and silently
    matches nothing for an entry whose test is gone, so a stale entry
    would hide that the list no longer says what the slow tier holds."""
    with open(os.path.join(REPO, "tests", "slow_tests.txt")) as fh:
        entries = [
            ln.strip() for ln in fh if ln.strip() and not ln.startswith("#")
        ]
    bad = _stale_slow_entries(REPO, entries)
    assert not bad, f"{len(bad)} slow_tests.txt entries name no test: {bad}"


def test_slow_list_guard_flags_missing_files_and_tests(tmp_path):
    (tmp_path / "tests").mkdir()
    (tmp_path / "tests" / "test_m.py").write_text(
        "import pytest\n\n\n"
        "def test_a():\n    pass\n\n\n"
        "class TestK:\n    def test_b(self):\n        pass\n\n"
        "    @pytest.mark.parametrize('x', [1, 2])\n"
        "    def test_p(self, x):\n        pass\n"
    )
    entries = [
        "tests/test_m.py::test_a",
        "tests/test_m.py::test_a[p1]",
        "tests/test_m.py::TestK::test_b",
        "tests/test_m.py::TestK::test_p[1]",
        "tests/test_m.py::TestK::test_p",
        "tests/test_m.py::TestK::test_gone",
        "tests/test_m.py::test_b",
        "tests/test_gone.py::test_a",
    ]
    assert _stale_slow_entries(str(tmp_path), entries) == [
        "tests/test_m.py::test_a[p1]",
        "tests/test_m.py::TestK::test_p",
        "tests/test_m.py::TestK::test_gone",
        "tests/test_m.py::test_b",
        "tests/test_gone.py::test_a",
    ]
