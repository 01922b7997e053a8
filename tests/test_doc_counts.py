"""Doc sync: the 'N queries, M oracled' numbers in README.md, SURVEY.md
and the verify skill must match the live registry, and code and docs
must not cite files that are not in the checkout.

Stale counts shipped twice before this test made the drift a hard
failure. When it fails after registering new queries, update the three
marker lines to the numbers in the assertion message.
"""

import re
from pathlib import Path

from us_accidents_bigdata_pipeline_spark.plans.queries import REGISTRY

ROOT = Path(__file__).resolve().parents[1]

TOTAL = len(REGISTRY)
ORACLED = sum(1 for s in REGISTRY.values() if s.oracle)
ROWS_ONLY = TOTAL - ORACLED


def _one_line(path: Path) -> str:
    return re.sub(r"\s+", " ", path.read_text())


def test_readme_counts():
    text = _one_line(ROOT / "README.md")
    m = re.search(r"\((\d+) queries, (\d+) DuckDB-oracled", text)
    assert m, "README.md lost its '(N queries, M DuckDB-oracled' marker"
    assert (int(m.group(1)), int(m.group(2))) == (TOTAL, ORACLED), (
        f"README.md says {m.group(1)}/{m.group(2)}, registry is "
        f"{TOTAL}/{ORACLED} — update README.md:36"
    )


def test_survey_counts():
    text = _one_line(ROOT / "SURVEY.md")
    m = re.search(r"registry to \*\*(\d+) catalog queries, (\d+) oracled\*\*", text)
    assert m, "SURVEY.md lost its 'registry to **N catalog queries, M oracled**' marker"
    assert (int(m.group(1)), int(m.group(2))) == (TOTAL, ORACLED), (
        f"SURVEY.md says {m.group(1)}/{m.group(2)}, registry is "
        f"{TOTAL}/{ORACLED} — update SURVEY.md §7.2"
    )


def test_survey_rows_only_count():
    text = _one_line(ROOT / "SURVEY.md")
    m = re.search(r"the (\d+) rows-only entries", text)
    assert m, "SURVEY.md lost its 'the N rows-only entries' marker"
    assert int(m.group(1)) == ROWS_ONLY, (
        f"SURVEY.md says {m.group(1)} rows-only, registry has {ROWS_ONLY}"
    )


def test_verify_skill_counts():
    skill = ROOT / ".claude" / "skills" / "verify" / "SKILL.md"
    text = _one_line(skill)
    m = re.search(r"Registry at HEAD: (\d+) queries \((\d+) oracled\)", text)
    assert m, "verify SKILL.md lost its 'Registry at HEAD: N queries (M oracled)' marker"
    assert (int(m.group(1)), int(m.group(2))) == (TOTAL, ORACLED), (
        f"verify SKILL.md says {m.group(1)}/{m.group(2)}, registry is "
        f"{TOTAL}/{ORACLED}"
    )


def test_bench_headline_names_exist():
    """bench.py looks every headline name up in the registry; this test
    catches a stale or typo'd name before a bench run does."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "bench", ROOT / "bench.py"
    )
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)
    missing = [n for n in bench.HEADLINE if n not in REGISTRY]
    assert not missing, f"bench HEADLINE names not in registry: {missing}"


# An upper-case artifact file name (``FIXTURES.md``, ``SKILL.md``). The
# look-behind skips path tails and dotted names (a table's
# ``_CURRENT.json`` pointer, a reference repo's ``<repo>/README.md``);
# the trailing ``\b`` skips longer extensions such as ``.jsonl``.
_ARTIFACT = re.compile(
    r"(?<![\w/.])[A-Z][A-Z_]*(?:_r\d+|_[a-z0-9_]+)?\.(?:json|md)\b"
)
_PLAN_DUMP = re.compile(r"(?<![\w.])plans/r\d+/")
_CITING = (
    "us_accidents_bigdata_pipeline_spark",
    "tests",
    "scripts",
    "bench.py",
    "__spark_entry__.py",
    "README.md",
    "SURVEY.md",
    ".claude/skills/verify/SKILL.md",
)


def _citing_files():
    for name in _CITING:
        path = ROOT / name
        if path.is_file():
            yield path
        else:
            yield from sorted(
                p for p in path.rglob("*") if p.suffix in (".py", ".md")
            )


def test_no_dangling_file_citations():
    """Code and docs name only files that exist in the checkout. A
    figure whose source file is gone should be quoted inline instead.
    Names resolve by basename (``SKILL.md``, ``NOTES.md``)."""
    present = {p.name for p in ROOT.rglob("*") if ".git" not in p.parts}
    dangling = []
    for path in _citing_files():
        text = path.read_text(errors="replace")
        for lineno, line in enumerate(text.splitlines(), 1):
            where = f"{path.relative_to(ROOT)}:{lineno}"
            dangling += [
                f"{where} {m.group(0)}"
                for m in _ARTIFACT.finditer(line)
                if m.group(0) not in present
            ]
            dangling += [
                f"{where} {m.group(0)}"
                for m in _PLAN_DUMP.finditer(line)
                if not (ROOT / m.group(0)).is_dir()
            ]
    assert dangling == [], "\n".join(dangling)
