"""Every top-level package def has a caller outside the tests.

A pure-Python AST scan, no Spark.  A def counts as reached when its name
appears, in any tracked ``.py`` file outside ``tests/`` and
``perfbench/test_*.py``, as an ``ast.Name``, an ``ast.Attribute``, an
``ImportFrom`` name or a string constant that is an identifier.  The
scan is name-level: a def reached only from another unreached def
counts as reached.

``KEEP`` names the defs that wait for a caller, one reason each.  The
list can only shrink: an entry that gains a caller (or is deleted) fails
``test_keep_list_only_shrinks`` until it is struck from the list.
"""

import ast
import functools
import subprocess
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "deepseek_ocr_omnidocbench_spark/"

_INGEST = "streaming job; wants a query or bench entry before any deletion"
_MEDIA = "container-blocked: no imaging/media library to back it yet"
_EVAL_INPUT = "evaluation input format; to be wired into evaluate"

KEEP = {
    "stream_extract": _INGEST,
    "stream_dedup": _INGEST,
    "stream_near_dedup": _INGEST,
    "stream_curate": _INGEST,
    "stream_domain_counters": _INGEST,
    "stream_fetch_sessions": _INGEST,
    "stream_crawl_rates": _INGEST,
    "stream_image_dedup": _INGEST,
    "load_omnidoc_json": _EVAL_INPUT,
    "resolve_predictions": _EVAL_INPUT,
    "missing_predictions": _EVAL_INPUT,
    "IcebergStageCheckpoint": "checkpointed mode on Iceberg tables (paper-scale store)",
    "read_warc": "paper-scale input format (WARC)",
    "cdx_index": "paper-scale input format (CDX index over WARC)",
    "run_curation": "checkpointed mode of the curation plan",
    "levenshtein_one_to_many": "the eval matcher's merge steps are to call it",
    "dehyphenate": "the pure-Python reference the tests hold dehyphenate_col to",
    "decode_image": _MEDIA,
    "probe_media": _MEDIA,
    "tile_media": _MEDIA,
    "sample_frames": _MEDIA,
    "chunk_audio": _MEDIA,
}


def _is_test(path: str) -> bool:
    return path.startswith("tests/") or (
        path.startswith("perfbench/") and Path(path).name.startswith("test_"))


def _py_files() -> list[str]:
    out = subprocess.run(
        ["git", "ls-files", "--cached", "--others", "--exclude-standard", "*.py"],
        cwd=ROOT, capture_output=True, text=True, check=True).stdout.split()
    return [p for p in out if (ROOT / p).is_file()]


@functools.cache
def _scan() -> tuple[frozenset[str], frozenset[str]]:
    """-> (names of top-level package defs, names referenced outside tests)."""
    defs, refs = set(), set()
    for path in _py_files():
        if _is_test(path):
            continue
        tree = ast.parse((ROOT / path).read_text(encoding="utf-8"))
        if path.startswith(PACKAGE):
            defs.update(n.name for n in tree.body if isinstance(
                n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)))
        for n in ast.walk(tree):
            if isinstance(n, ast.Name):
                refs.add(n.id)
            elif isinstance(n, ast.Attribute):
                refs.add(n.attr)
            elif isinstance(n, ast.ImportFrom):
                refs.update(a.name for a in n.names)
            elif (isinstance(n, ast.Constant) and isinstance(n.value, str)
                  and n.value.isidentifier()):
                refs.add(n.value)
    return frozenset(defs), frozenset(refs)


def test_every_package_def_has_a_caller():
    defs, refs = _scan()
    unreached = sorted(defs - refs - set(KEEP))
    assert not unreached, (
        "%d package defs have no caller outside tests (give each a caller, "
        "delete it with its tests, or add it to KEEP with a reason): %s"
        % (len(unreached), ", ".join(unreached)))


def test_keep_list_only_shrinks():
    defs, refs = _scan()
    stale = sorted(n for n in KEEP if n in refs or n not in defs)
    assert not stale, (
        "KEEP entries that now have a caller or no longer exist; strike "
        "them from KEEP: %s" % ", ".join(stale))
