"""Every top-level definition in the package has a caller outside the
tests, or a stated reason to stay.

A def that only tests reach is either dead code or a spec oracle the
production path is checked against. References are read from the AST —
names, attributes and import aliases — so a mention in a docstring or
comment does not count, and a def's own body does not reference it. A
registry function decorated with ``@query(...)`` is referenced by its
registration in ``QUERIES``.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = REPO / "tripgogo_vector_search_spark"
# the code whose references count: the package and the programs that
# drive it
USERS = [PKG, REPO / "vbench", REPO / "tools",
         REPO / "bench.py", REPO / "__spark_entry__.py"]

ALLOWED = {
    # spec oracles: plain-Python decoders the numpy kernels are tested
    # against, written from the format spec rather than from the kernels
    "operators/jpeg.py:parse_jpeg": "spec oracle of the JPEG decode kernels",
    "operators/multimodal.py:parse_wav": "spec oracle of the WAV kernel",
    "operators/multimodal.py:parse_bmp": "spec oracle of the BMP kernel",
    "operators/multimodal.py:parse_bmp_rle":
        "spec oracle the numpy RLE kernel is tested against",
    "operators/multimodal.py:parse_png": "spec oracle of the PNG kernel",
    "operators/multimodal.py:parse_gif": "spec oracle of the GIF kernel",
    "operators/multimodal.py:parse_gif_rowpos":
        "spec oracle of the interlaced GIF row order",
    # expression forms the Arrow kernels are tested bit for bit against
    "operators/corpus.py:dup_ngram_fraction":
        "pure-expression spec of kernels.dup_ngram_fraction_udf",
    "functions/vector.py:quantize_scale":
        "SQL spec of the quantize kernel",
    "functions/vector.py:dequantize_error":
        "SQL spec of the quantize kernel",
    "functions/vector.py:cosine_similarity":
        "SQL fold the pair kernel's similarity=True form is tested against",
    # test windows onto a production path
    "operators/fuzzy.py:fuzzy_block_candidates":
        "exposes the production fuzzy join's candidate frame to its "
        "pruning test",
    "operators/rank.py:with_bucket_id":
        "the rank bucket grid alone, whose bucket-size bound the balance "
        "tests check",
    "operators/dedup.py:minhash_lsh_dedup":
        "one-call form of the registry's band-index dedup, used by the "
        "dedup invariant tests",
    # the name also matches vbench's own datagen.write_hotels_csv, so
    # the scan alone would let it pass; the package's writer is test-only
    "sources/hotels_fixture.py:write_hotels_csv":
        "writes the reference-shaped hotels CSV for the ingest-pipeline "
        "tests",
    # backends that need a service the tier-1 suite does not run
    "sources/sinks.py:write_jdbc": "JDBC sink, exercised by the live test",
    "functions/embed.py:model_embed_mapper":
        "sentence-transformers backend, exercised by the live test",
}


def _files(root: Path):
    if root.is_file():
        yield root
        return
    for f in sorted(root.rglob("*.py")):
        if "tests" not in f.relative_to(root).parts:
            yield f


def _is_registered(node: ast.AST) -> bool:
    return any(isinstance(d, ast.Call) and isinstance(d.func, ast.Name)
               and d.func.id == "query" for d in node.decorator_list)


def _names(node: ast.AST) -> set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rsplit(".", 1)[-1])
    return out


def _scan():
    """(package defs as ``{(file, name): registered}``, and for each
    referenced name the ``(file, top-level statement name)`` pairs it
    occurs in)."""
    defs, refs = {}, {}
    for root in USERS:
        for f in _files(root):
            tree = ast.parse(f.read_text(), str(f))
            for node in tree.body:
                own = getattr(node, "name", None)
                for name in _names(node):
                    refs.setdefault(name, set()).add((f, own))
                if f.is_relative_to(PKG) and isinstance(
                        node, (ast.FunctionDef, ast.AsyncFunctionDef,
                               ast.ClassDef)):
                    defs[f, own] = _is_registered(node)
    return defs, refs


def _key(f: Path, name: str) -> str:
    return f"{f.relative_to(PKG).as_posix()}:{name}"


def test_every_package_def_has_a_non_test_caller():
    defs, refs = _scan()
    # a def's own body (recursion) does not reference it
    orphans = sorted(_key(*d) for d, registered in defs.items()
                     if not registered and not refs.get(d[1], set()) - {d}
                     and _key(*d) not in ALLOWED)
    assert not orphans, (
        "package defs that only tests reach: delete them, or add each to "
        f"ALLOWED with its reason: {orphans}")


def test_allowlist_names_existing_defs():
    defs, _ = _scan()
    assert not sorted(set(ALLOWED) - {_key(*d) for d in defs})
    assert all(reason.strip() for reason in ALLOWED.values())
