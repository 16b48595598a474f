"""Source guard: one string hash.  ``core.hashing.hash_strings`` is the
only caller of the compiled ``native.hash_strings`` (it alone picks the
kernel or its numpy twin), and no operator or streaming module hashes
tokens through ``functions/text.py``'s dictionary path (``token_base``,
``hashes_from_base``, ``token_hashes``), which only the benchmark
probes and the tests keep using."""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "sketch_spark"
DICT_PATH = {"token_base", "hashes_from_base", "token_hashes"}


def _native_hash_calls(tree: ast.AST) -> list[int]:
    """Lines that reach ``native.hash_strings``: the attribute, or an
    import of the name from a ``native`` module."""
    lines = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Attribute) and node.attr == "hash_strings":
            if isinstance(node.value, ast.Name) and node.value.id == "native":
                lines.append(node.lineno)
        elif isinstance(node, ast.ImportFrom) and (node.module or "").split(".")[-1] == "native":
            lines += [a.lineno for a in node.names if a.name == "hash_strings"]
    return lines


def _dict_path_uses(tree: ast.AST) -> list[int]:
    """Lines that import, or reach as an attribute, a dictionary-path name."""
    lines = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Attribute) and node.attr in DICT_PATH:
            lines.append(node.lineno)
        elif isinstance(node, ast.ImportFrom):
            lines += [a.lineno for a in node.names if a.name in DICT_PATH]
    return lines


def _hits(files, finder) -> list[str]:
    return [
        f"{f.relative_to(ROOT).as_posix()}:{line}"
        for f in files
        for line in finder(ast.parse(f.read_text(), str(f)))
    ]


def test_only_core_hashing_calls_the_native_string_hash():
    files = [f for f in sorted(PKG.rglob("*.py")) if f != PKG / "core" / "hashing.py"]
    hits = _hits(files, _native_hash_calls)
    assert not hits, "hash strings through core.hashing.hash_strings:\n" + "\n".join(hits)


def test_no_operator_hashes_through_the_dictionary_path():
    files = sorted((PKG / "operators").rglob("*.py")) + sorted((PKG / "streaming").rglob("*.py"))
    hits = _hits(files, _dict_path_uses)
    assert not hits, "hash tokens with tokenize_batch + hash_strings:\n" + "\n".join(hits)


def test_guards_catch_each_form():
    for src in (
        "native.hash_strings(data, offsets, 0, 64)",
        "from .native import hash_strings",
        "from ..core.native import cmcu_update, hash_strings as h",
    ):
        assert _native_hash_calls(ast.parse(src)), src
    for src in (
        "from ..functions.text import (\n    _roll_ngrams,\n    token_base,\n)",
        "from ..functions.text import hashes_from_base",
        "text.token_hashes(col, 1)",
    ):
        assert _dict_path_uses(ast.parse(src)), src
    for src in (
        "hashing.hash_strings(col, seed=1)",
        "from ..core.hashing import hash_strings",
        "from .dedup import top_df_token_hashes",
        "top_df_token_hashes(df)",
    ):
        tree = ast.parse(src)
        assert not _native_hash_calls(tree) and not _dict_path_uses(tree), src
