"""Module-namespace hygiene lints (the r10 ``_sbg_*`` shadowing bug class).

Round 10's one real bug: the Bloom gate landed in the then-flat 5.5k-line
streaming module with helpers named ``_sbg_*`` — silently REDEFINING the
BPE gate's ``_sbg_out_dir`` (later def wins) and reusing its staged-dir
tag, so ``streaming_bpe_gate`` returned Bloom columns.  Python raises
nothing on module-level redefinition, and a single-query verify passed;
only the full sweep caught it.  These lints make both halves of that
failure impossible to reintroduce:

1. No module-level name in any plans/operators/functions/sources module
   is defined twice (def/class/assignment shadowing).
2. Staged directories come only from the staging registry
   (``operators/colocate.staged``), which tags each by its unique
   registered name, so two families cannot overwrite each other's
   session-staged artifacts.

A third lint keeps the streaming mechanism (trigger, checkpoint,
foreachBatch sink, per-epoch state writes) in plans/streaming_core.py,
the way lint 2 keeps staging in one registry. A fourth keeps the
similarity recall-audit skeleton (exact-cosine top-10 window, overlap
counts) in plans/similarity_queries.py. A fifth keeps the graph beam
step in plans/graph_queries.py's ``_beam_walk``. A sixth keeps the
HyperLogLog, Count-Min and packed-word Bloom recipes in
functions/sketches.py. A seventh keeps every processor-side read of
epoch-keyed state (the prior-epoch filter, the ``basePath`` read, the
state-dir existence guard and the empty-state probe) in
plans/streaming_core.py. An eighth keeps the banded-LSH steps (the band
equi-join, the MinHash band-key recipe and the incremental probe's
best-match window) in operators/dedup.py. A ninth sends every
driver-built frame through sources/tables.py's ``local_frame``, so none
plans a Python-RDD scan. A tenth keeps the integer-exact quantizer steps
(argmin over a literal book, the truncating M-step division, nested
BIGINT literal builders, the PQ subspace split, the codebook frame,
driver squared-distance sums and the probe's 1-row quantized collect) in
operators/similarity.py.
"""

from __future__ import annotations

import ast
import collections
import glob
import os

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "data_ingestion_din_spark",
)


def _module_files() -> list[str]:
    return sorted(glob.glob(os.path.join(PKG, "**", "*.py"), recursive=True))


def test_no_module_level_name_shadowing():
    offenders = {}
    for path in _module_files():
        with open(path) as fh:
            tree = ast.parse(fh.read())
        names: collections.Counter[str] = collections.Counter()
        for node in tree.body:
            if isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                names[node.name] += 1
            elif isinstance(node, ast.Assign):
                for t in node.targets:
                    if isinstance(t, ast.Name):
                        names[t.id] += 1
            elif isinstance(node, ast.AnnAssign) and isinstance(
                node.target, ast.Name
            ):
                names[node.target.id] += 1
        dups = sorted(n for n, c in names.items() if c > 1)
        if dups:
            offenders[os.path.relpath(path, PKG)] = dups
    assert not offenders, (
        "module-level names defined more than once (later definition "
        f"silently shadows the earlier one): {offenders}"
    )


def test_staged_dir_tags_unique_per_function():
    """Staged-directory tags come from registered names, and the registry
    rejects a duplicate name (tests/test_staged_registry.py), so two
    families can only share a directory by calling the path helpers
    directly. No module outside the registry may."""
    callers: set[str] = set()
    for path in _module_files():
        rel = os.path.relpath(path, PKG)
        if rel == os.path.join("operators", "colocate.py"):
            continue
        with open(path) as fh:
            tree = ast.parse(fh.read())
        for node in ast.walk(tree):
            name = None
            if isinstance(node, ast.Name):
                name = node.id
            elif isinstance(node, ast.Attribute):
                name = node.attr
            elif isinstance(node, ast.alias):
                name = node.name
            if name in ("fresh_app_dir", "app_dir_path"):
                callers.add(rel)
    assert not callers, (
        "modules outside operators/colocate.py reach the staged-dir "
        f"helpers directly instead of declaring a staged builder: {sorted(callers)}"
    )


def _docstring_ids(tree: ast.AST) -> set[int]:
    ids = set()
    for node in ast.walk(tree):
        if isinstance(
            node,
            (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef),
        ) and ast.get_docstring(node, clean=False) is not None:
            ids.add(id(node.body[0].value))
    return ids


def test_streaming_mechanism_lives_in_streaming_core():
    """No plans module but streaming_core starts an availableNow run,
    sets a checkpointLocation, attaches a foreachBatch sink or writes an
    ``epoch=`` path (code only: comments and docstrings may name them)."""
    hits: dict[str, set[str]] = collections.defaultdict(set)
    for path in sorted(glob.glob(os.path.join(PKG, "plans", "*.py"))):
        rel = os.path.relpath(path, PKG)
        if os.path.basename(path) == "streaming_core.py":
            continue
        with open(path) as fh:
            tree = ast.parse(fh.read())
        docs = _docstring_ids(tree)
        for node in ast.walk(tree):
            if isinstance(node, ast.keyword) and node.arg == "availableNow":
                hits[rel].add("availableNow")
            elif isinstance(node, ast.Attribute) and node.attr == "foreachBatch":
                hits[rel].add("foreachBatch")
            elif (
                isinstance(node, ast.Constant)
                and isinstance(node.value, str)
                and id(node) not in docs
            ):
                for word in ("availableNow", "checkpointLocation", "epoch="):
                    if word in node.value:
                        hits[rel].add(word)
    assert not hits, (
        "streaming mechanism outside plans/streaming_core.py (use "
        f"_run_split_landings / _epoch_writer / _write_epoch): {dict(hits)}"
    )


def _is_desc_cos(node: ast.AST) -> bool:
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, (ast.Attribute, ast.Name))
        and getattr(node.func, "attr", getattr(node.func, "id", None)) == "desc"
        and len(node.args) == 1
        and isinstance(node.args[0], ast.Constant)
        and node.args[0].value == "cos"
    )


def test_recall_skeleton_lives_in_similarity_queries():
    """No similarity module but similarity_queries orders a window by
    (F.desc("cos"), "vec_id") — the probe rerank's top-10 cut — or
    aliases an ``n_overlap*`` count: recall audits go through
    _probe_rerank / _rank_cut / _overlap_rollup / _recall_row."""
    hits: dict[str, set[str]] = collections.defaultdict(set)
    for path in sorted(glob.glob(os.path.join(PKG, "plans", "similarity_*.py"))):
        rel = os.path.relpath(path, PKG)
        if os.path.basename(path) == "similarity_queries.py":
            continue
        with open(path) as fh:
            tree = ast.parse(fh.read())
        for node in ast.walk(tree):
            if not (
                isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
            ):
                continue
            args = node.args
            if (
                node.func.attr == "orderBy"
                and len(args) == 2
                and _is_desc_cos(args[0])
                and isinstance(args[1], ast.Constant)
                and args[1].value == "vec_id"
            ):
                hits[rel].add('orderBy(F.desc("cos"), "vec_id")')
            elif (
                node.func.attr == "alias"
                and args
                and isinstance(args[0], ast.Constant)
                and isinstance(args[0].value, str)
                and args[0].value.startswith("n_overlap")
            ):
                hits[rel].add(f"alias({args[0].value!r})")
    assert not hits, (
        "recall-audit mechanism outside plans/similarity_queries.py (use "
        f"_probe_rerank / _rank_cut / _overlap_rollup / _recall_row): {dict(hits)}"
    )


def _beam_step_sites(tree: ast.AST) -> list[tuple[str, int]]:
    """(function, line) of every ``sorted(<comprehension over pdist[...]>)``
    call inside a loop (a for/while or a comprehension) of its function."""
    sites: list[tuple[str, int]] = []
    loops = (ast.For, ast.While, ast.ListComp, ast.SetComp, ast.DictComp,
             ast.GeneratorExp)

    def visit(node: ast.AST, func: str, in_loop: bool) -> None:
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                visit(child, child.name, False)
                continue
            if (
                in_loop
                and isinstance(child, ast.Call)
                and isinstance(child.func, ast.Name)
                and child.func.id == "sorted"
                and child.args
                and isinstance(child.args[0], (ast.GeneratorExp, ast.ListComp))
                and any(
                    isinstance(s, ast.Subscript)
                    and isinstance(s.value, ast.Name)
                    and s.value.id == "pdist"
                    for s in ast.walk(child.args[0].elt)
                )
            ):
                sites.append((func, child.lineno))
            visit(child, func, in_loop or isinstance(child, loops))

    visit(tree, "<module>", False)
    return sites


def test_beam_step_lives_in_beam_walk():
    """No plans function but ``_beam_walk`` re-ranks a beam, i.e. sorts a
    comprehension keyed on ``pdist[...]`` inside a loop: graph walks call
    the kernel (with a sliced adjacency for a degree cap)."""
    hits: dict[str, list[tuple[str, int]]] = {}
    for path in sorted(glob.glob(os.path.join(PKG, "plans", "*.py"))):
        with open(path) as fh:
            tree = ast.parse(fh.read())
        sites = [s for s in _beam_step_sites(tree) if s[0] != "_beam_walk"]
        if sites:
            hits[os.path.relpath(path, PKG)] = sites
    assert not hits, f"beam step outside _beam_walk: {hits}"


def test_streaming_split_stays_bounded():
    """The per-family split exists because one flat 5.5k-line module grew
    a shared helper namespace; keep the streaming family modules under
    2.5k lines (and every plans module under 3.6k — similarity_queries is
    the current 3.5k ceiling) so no module regrows it."""
    over = {}
    for path in sorted(glob.glob(os.path.join(PKG, "plans", "*.py"))):
        base = os.path.basename(path)
        n = sum(1 for _ in open(path))
        limit = 2500 if base.startswith("streaming_") else 3600
        if n > limit:
            over[base] = n
    assert not over, f"plans modules grew past the split threshold: {over}"


def _call_name(node: ast.Call) -> str | None:
    f = node.func
    return f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)


def _sketch_recipe_sites(tree: ast.AST) -> list[tuple[int, str]]:
    """(line, recipe) of every hand-built sketch expression: an
    ``F.expr`` string holding the HLL sum term, an ``F.lit("cms")``
    Count-Min seed, or an ``h64(..., seed=f"bl{...}:")`` Bloom position."""
    sites = []
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call):
            continue
        name = _call_name(node)
        if name == "expr" and any(
            isinstance(c, ast.Constant)
            and isinstance(c.value, str)
            and "32 - least(" in c.value
            for a in node.args
            for c in ast.walk(a)
        ):
            sites.append((node.lineno, "HLL scaled sum"))
        elif (
            name == "lit"
            and node.args
            and isinstance(node.args[0], ast.Constant)
            and node.args[0].value == "cms"
        ):
            sites.append((node.lineno, "CMS row hash"))
        elif name == "h64" and any(
            k.arg == "seed"
            and isinstance(k.value, ast.JoinedStr)
            and k.value.values
            and isinstance(k.value.values[0], ast.Constant)
            and str(k.value.values[0].value).startswith("bl")
            for k in node.keywords
        ):
            sites.append((node.lineno, "Bloom position"))
    return sites


def test_sketch_recipes_live_in_sketches():
    """No module but functions/sketches.py builds an HLL scaled sum, a
    Count-Min row hash or a packed-word Bloom position: sketch queries
    call the kernel. Oracle SQL strings are not ``F.expr`` calls and may
    restate the recipes."""
    hits: dict[str, list[tuple[int, str]]] = {}
    for path in _module_files():
        rel = os.path.relpath(path, PKG)
        if rel == os.path.join("functions", "sketches.py"):
            continue
        with open(path) as fh:
            sites = _sketch_recipe_sites(ast.parse(fh.read()))
        if sites:
            hits[rel] = sites
    assert not hits, f"sketch recipes outside functions/sketches.py: {hits}"


def _is_epoch_col(node: ast.AST) -> bool:
    return (
        isinstance(node, ast.Call)
        and _call_name(node) == "col"
        and len(node.args) == 1
        and isinstance(node.args[0], ast.Constant)
        and node.args[0].value == "epoch"
    )


def _epoch_state_read_sites(tree: ast.AST) -> list[tuple[int, str]]:
    """(line, what) of every hand-written state read: anywhere, an
    ``epoch`` column compared with ``epoch_id``; inside a processor (a
    module-level function named ``*_processor`` or building its sink
    with _epoch_writer / _write_epoch), any ``epoch`` column compare,
    a ``.option("basePath", ...)`` read, an ``os.path.isdir`` guard or
    a ``.limit(1).count()`` empty-state probe."""
    sites = []

    def scan(root: ast.AST, in_proc: bool) -> None:
        for node in ast.walk(root):
            if isinstance(node, ast.Compare):
                ops = [node.left, *node.comparators]
                if any(_is_epoch_col(o) for o in ops) and (
                    in_proc
                    or any(
                        isinstance(o, ast.Name) and o.id == "epoch_id"
                        for o in ops
                    )
                ):
                    sites.append((node.lineno, "epoch compare"))
            if not (in_proc and isinstance(node, ast.Call)):
                continue
            name = _call_name(node)
            f = node.func
            if (
                name == "option"
                and node.args
                and isinstance(node.args[0], ast.Constant)
                and node.args[0].value == "basePath"
            ):
                sites.append((node.lineno, "basePath read"))
            elif name == "isdir":
                sites.append((node.lineno, "isdir guard"))
            elif (
                name == "count"
                and isinstance(f, ast.Attribute)
                and isinstance(f.value, ast.Call)
                and _call_name(f.value) == "limit"
            ):
                sites.append((node.lineno, "limit(1).count() probe"))

    for node in tree.body:
        is_proc = isinstance(node, ast.FunctionDef) and (
            node.name.endswith("_processor")
            or any(
                isinstance(n, ast.Name)
                and n.id in ("_epoch_writer", "_write_epoch")
                for n in ast.walk(node)
            )
        )
        scan(node, is_proc)
    return sorted(set(sites))


def test_epoch_state_reads_live_in_streaming_core():
    """No plans module but streaming_core reads epoch-keyed state by
    hand inside a processor: processors call _prior_epochs,
    _latest_epoch_rows, _prior_snapshot, _frozen_model or _unless_empty,
    which own the strictly-earlier-epochs rule, the missing-dir case and
    the replay trap."""
    hits: dict[str, list[tuple[int, str]]] = {}
    for path in sorted(glob.glob(os.path.join(PKG, "plans", "*.py"))):
        if os.path.basename(path) == "streaming_core.py":
            continue
        with open(path) as fh:
            sites = _epoch_state_read_sites(ast.parse(fh.read()))
        if sites:
            hits[os.path.relpath(path, PKG)] = sites
    assert not hits, f"epoch-keyed state read outside streaming_core: {hits}"


_BAND_JOIN_KEYS = ("band_key", "bid")


def _is_band_key_str(node: ast.AST) -> bool:
    return (
        isinstance(node, ast.Constant)
        and isinstance(node.value, str)
        and any(
            node.value == k or node.value.endswith("." + k)
            for k in _BAND_JOIN_KEYS
        )
    )


def _is_band_tag(node: ast.AST) -> bool:
    """``F.lit(f"b{...}")``: the MinHash band tag."""
    return (
        isinstance(node, ast.Call)
        and _call_name(node) == "lit"
        and bool(node.args)
        and isinstance(node.args[0], ast.JoinedStr)
        and bool(node.args[0].values)
        and isinstance(node.args[0].values[0], ast.Constant)
        and str(node.args[0].values[0].value).startswith("b")
    )


def _band_kernel_sites(tree: ast.AST) -> list[tuple[int, str]]:
    """(line, what) of every hand-written banded-LSH step: a ``.join``
    keyed on ``band_key`` or on the pHash (``bid``, ``bv``) band columns;
    an ``F.lit(f"b{...}")`` band tag inside ``md5(concat_ws(...))``; a
    ``partitionBy("batch_id" | "batch_path")`` window in a function that
    takes a ``row_number`` (the incremental best-match cut)."""
    sites = []
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call):
            continue
        name = _call_name(node)
        if name == "join":
            keys = node.args[1:] + [k.value for k in node.keywords if k.arg == "on"]
            if any(_is_band_key_str(c) for k in keys for c in ast.walk(k)):
                sites.append((node.lineno, "band join"))
        elif name == "md5":
            inner = [c for c in ast.walk(node) if isinstance(c, ast.Call)]
            if any(_call_name(c) == "concat_ws" for c in inner) and any(
                _is_band_tag(c) for c in inner
            ):
                sites.append((node.lineno, "MinHash band key"))
    for top in tree.body:
        calls = [n for n in ast.walk(top) if isinstance(n, ast.Call)]
        if not any(_call_name(c) == "row_number" for c in calls):
            continue
        for c in calls:
            if _call_name(c) == "partitionBy" and any(
                isinstance(a, ast.Constant) and a.value in ("batch_id", "batch_path")
                for a in c.args
            ):
                sites.append((c.lineno, "best-match window"))
    return sorted(set(sites))


def test_band_join_lives_in_dedup_kernel():
    """No module but operators/dedup.py joins on a band key, builds a
    MinHash band key or cuts an incremental probe's best match: near-dup
    joins call band_candidates / minhash_band_keys / nearest_match.
    Oracle SQL strings are not calls and stay the reference."""
    hits: dict[str, list[tuple[int, str]]] = {}
    for path in _module_files():
        rel = os.path.relpath(path, PKG)
        if rel == os.path.join("operators", "dedup.py"):
            continue
        with open(path) as fh:
            sites = _band_kernel_sites(ast.parse(fh.read()))
        if sites:
            hits[rel] = sites
    assert not hits, f"banded-LSH steps outside operators/dedup.py: {hits}"


def test_driver_frames_go_through_local_frame():
    """No ``createDataFrame`` call in the engine outside
    sources/tables.py's ``local_frame``: a list- or row-based
    ``createDataFrame`` plans a scan over a Python RDD whose tasks fork
    Python workers, where ``local_frame`` plans a ``LocalTableScan``."""
    hits: dict[str, list[int]] = {}
    for path in _module_files():
        rel = os.path.relpath(path, PKG)
        with open(path) as fh:
            tree = ast.parse(fh.read())
        allowed: set[int] = set()
        if rel == os.path.join("sources", "tables.py"):
            for top in tree.body:
                if isinstance(top, ast.FunctionDef) and top.name == "local_frame":
                    allowed = {id(n) for n in ast.walk(top)}
        lines = [
            node.lineno
            for node in ast.walk(tree)
            if isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "createDataFrame"
            and id(node) not in allowed
        ]
        if lines:
            hits[rel] = lines
    assert not hits, f"createDataFrame outside local_frame: {hits}"


def _is_self_square(node: ast.AST) -> bool:
    """``e ** 2`` or ``(a - b) * (a - b)``."""
    if not isinstance(node, ast.BinOp):
        return False
    if isinstance(node.op, ast.Pow):
        return isinstance(node.right, ast.Constant) and node.right.value == 2
    return (
        isinstance(node.op, ast.Mult)
        and isinstance(node.left, ast.BinOp)
        and ast.dump(node.left) == ast.dump(node.right)
    )


def _str_parts(node: ast.AST) -> list[str]:
    return [
        c.value
        for c in ast.walk(node)
        if isinstance(c, ast.Constant) and isinstance(c.value, str)
    ]


def _quantizer_recipe_sites(tree: ast.AST) -> list[tuple[int, str]]:
    """(line, recipe) of every hand-written quantizer step: an
    ``array_position(..., array_min(...))`` argmin, a ``def tdiv``, an
    f-string ``{v}L`` BIGINT literal builder, an ``F.expr`` subspace
    split (``slice(qv, m * ...``), a ``cv array<bigint>`` codebook frame,
    a driver ``sum(...)`` of squared differences, or a ``.collect()[0]
    .qv`` probe collect."""
    sites = []
    for node in ast.walk(tree):
        if isinstance(node, ast.FunctionDef) and node.name == "tdiv":
            sites.append((node.lineno, "truncating division"))
        elif isinstance(node, ast.JoinedStr):
            vals = node.values
            if any(
                isinstance(a, ast.FormattedValue)
                and isinstance(b, ast.Constant)
                and str(b.value).startswith("L")
                for a, b in zip(vals, vals[1:])
            ):
                sites.append((node.lineno, "BIGINT literal builder"))
        elif (
            isinstance(node, ast.Attribute)
            and node.attr == "qv"
            and isinstance(node.value, ast.Subscript)
            and isinstance(node.value.value, ast.Call)
            and _call_name(node.value.value) == "collect"
        ):
            sites.append((node.lineno, "probe collect"))
        if not isinstance(node, ast.Call):
            continue
        name = _call_name(node)
        if name == "array_position" and any(
            isinstance(a, ast.Call) and _call_name(a) == "array_min"
            for a in node.args
        ):
            sites.append((node.lineno, "argmin"))
        elif name == "expr" and any(
            "slice(qv, m *" in v for a in node.args for v in _str_parts(a)
        ):
            sites.append((node.lineno, "subspace split"))
        elif name == "local_frame" and any(
            "cv array<bigint>" in v for a in node.args for v in _str_parts(a)
        ):
            sites.append((node.lineno, "codebook frame"))
        elif (
            name == "sum"
            and isinstance(node.func, ast.Name)
            and node.args
            and isinstance(node.args[0], (ast.GeneratorExp, ast.ListComp))
            and any(_is_self_square(c) for c in ast.walk(node.args[0].elt))
        ):
            sites.append((node.lineno, "driver squared distance"))
    return sorted(set(sites))


def test_quantizer_recipes_live_in_similarity_kernel():
    """No module but operators/similarity.py writes a quantizer step:
    IVF, PQ, k-means and range-search queries call nearest_code,
    lloyd / lloyd_update, int_array_lit, subvectors, with_codewords,
    nearest_cells, adc_table / adc_rows / adc_lookup and probe_qv. Oracle
    SQL strings are not calls and stay the reference."""
    hits: dict[str, list[tuple[int, str]]] = {}
    for path in _module_files():
        rel = os.path.relpath(path, PKG)
        if rel == os.path.join("operators", "similarity.py"):
            continue
        with open(path) as fh:
            sites = _quantizer_recipe_sites(ast.parse(fh.read()))
        if sites:
            hits[rel] = sites
    assert not hits, f"quantizer steps outside operators/similarity.py: {hits}"
