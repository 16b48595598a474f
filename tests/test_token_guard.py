"""Source guard: tokens come only from ``functions/text.py``'s faces
(``tokenize_batch`` / ``tokens_col`` / ``tokens_sql``).  Any other
module that writes its own whitespace split brings back the
Arrow/Catalyst/DuckDB disagreement those faces exist to prevent."""

import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
EXEMPT = {"sketch_spark/functions/text.py", "sketch_spark/functions/pdftext.py"}
FORBIDDEN = re.compile(
    r"\\+s"  # a \s regex class, in raw or escaped source
    r"|split\((?:F\.)?trim\("  # split(trim(...)) on either engine
    r"|regexp_split_to_array\("
    r"|utf8_split_whitespace"
)


def _scanned() -> list[Path]:
    files = sorted((ROOT / "sketch_spark").rglob("*.py"))
    files += [ROOT / "__spark_entry__.py", ROOT / "bench.py"]
    return [f for f in files if f.relative_to(ROOT).as_posix() not in EXEMPT]


def test_no_private_token_rule_outside_text_module():
    hits = [
        f"{f.relative_to(ROOT).as_posix()}:{i}: {line.strip()}"
        for f in _scanned()
        for i, line in enumerate(f.read_text().splitlines(), 1)
        if FORBIDDEN.search(line)
    ]
    assert not hits, "write tokens through functions/text.py:\n" + "\n".join(hits)


def test_guard_pattern_catches_each_form():
    for line in (
        r'F.split(F.trim(c), r"\s+")',
        "regexp_split_to_array(trim(text), '\\\\s+')",
        "split(trim(text), ' ')",
        "pc.utf8_split_whitespace(arr)",
        r'F.regexp_replace(c, r"\s", "")',
    ):
        assert FORBIDDEN.search(line), line
    for line in (r"((?:\S+ ){6}\S+) ", 'F.split(F.col("t"), ",")', "tokens_sql(text_col)"):
        assert not FORBIDDEN.search(line), line
