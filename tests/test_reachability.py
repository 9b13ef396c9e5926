"""Every top-level def in ``qurio_spark`` is reached from an entry point,
or is listed in ``KEEP`` with the reason it stays.

Reads the AST only; starts no Spark.  Roots are the entry-point files
(``__spark_entry__.py``, ``bench.py``, ``tools/``, ``perfbench/``,
``api.py``, ``api_http.py``) and the module-level statements of every
``qurio_spark`` module.  A def is live when its name appears as a
``Name``, an ``Attribute``, an import alias or an identifier-shaped
string in a root or in a live def, repeated to a fixed point.  The match
is by name alone, so the scan can only under-report dead code.

A new def that only tests reach fails this test until it is reached
from an entry point, deleted, or added to ``KEEP`` with its reason."""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "qurio_spark"
ENTRY_FILES = (
    [ROOT / "__spark_entry__.py", ROOT / "bench.py", PKG / "api.py", PKG / "api_http.py"]
    + sorted((ROOT / "tools").glob("*.py"))
    + sorted((ROOT / "perfbench").glob("*.py"))
)
_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)

# Defs that only tests reach and that stay: group -> (reason, {module: names}).
KEEP: dict[str, tuple[str, dict[str, str]]] = {
    "crawl and fetch": (
        "the reference's live crawl and fetch (S1-S3); no hermetic query runs live HTTP",
        {
            "operators/crawl": "_advance_ledger _frontier_candidates _ledger_delta "
            "_status_flips distributed_fetch new_frontier resilient_fetch run_crawl "
            "run_crawl_distributed run_crawl_resumable with_content_filter",
            "sources/httpfetch": "_classify_urlerror _robots_allows breadcrumb_path http_fetch_one",
            "sources/sitemap": "classify_sitemap discover_sitemap_urls extract_locs",
            "functions/htmlmd": "_is_text_url convert_html_column wrap_html_fetch",
        },
    ),
    "file upload and conversion": (
        "the reference's upload and file conversion (F-series), driven by fixture files",
        {
            "sources/multimodal": "HermeticDecodeProvider _convert_one _mask_pdf_strings "
            "_pdf_block_text _pdf_dict_start _pdf_image_xobjects _pdf_streams _pdf_unescape "
            "convert_files extract_docx_text extract_features extract_pdf_text "
            "frame_sample_plan pdf_image_inventory read_binary_dir uploads_to_docs_raw",
            "functions/resilience": "CircuitBreaker validate_upload",
        },
    ),
    "model adapters": (
        "the reference's remote embed, OCR and rerank providers (Q4); tests drive them "
        "against local fake servers",
        {
            "functions/providers": "HttpContentFilter HttpEmbedder HttpOcrProvider "
            "HttpReranker HttpTokenizer _config_fingerprint _post_json worker_shared",
            "operators/rerank": "LocalOverlapReranker",
        },
    ),
    "catalog operators": (
        "the reference's source catalog: create a source, retry failed pages",
        {"operators/catalog": "create_source empty_failed_rows retry_payloads"},
    ),
    "commit synchronisation": (
        "commit stores for object stores behind the snapshot commit protocol",
        {"plans/commitstore": "MemoryCommitStore S3CommitStore register_commit_store"},
    ),
    "snapshot maintenance": (
        "the snapshot format's maintenance and time-travel API that the model tests drive",
        {
            "plans/snapshots": "_live_rows _vacuum_at maybe_compact maybe_materialize "
            "snap_append_txn snap_append_validated snap_count snap_delete_where "
            "snap_maintain snap_merge_mor snap_restore snap_txn_version snap_vacuum "
            "snap_versions",
        },
    ),
    "test fixtures and references": (
        "helpers that tests build fixtures with or compare the engine against",
        {
            "operators/pq": "pq_unpack_expr write_pq_index",
            "operators/bm25": "doc_block_py",
            "operators/topn": "has_partial_group_limit",
            "operators/cachectl": "cached_frames",
            "goldens": "row_hash",
            "plans/commitstore": "unregister_commit_store",
        },
    ),
}


def _names(node: ast.AST) -> set[str]:
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.update(n.name.split("."))
            if n.asname:
                out.add(n.asname)
        elif isinstance(n, ast.Constant) and isinstance(n.value, str) and n.value.isidentifier():
            out.add(n.value)
    return out


def unreached() -> set[tuple[str, str]]:
    live: set[str] = set()
    for path in ENTRY_FILES:
        live |= _names(ast.parse(path.read_text(), str(path)))
    defs: dict[str, list[tuple[str, ast.AST]]] = {}
    for path in sorted(PKG.rglob("*.py")):
        if path in ENTRY_FILES:
            continue
        module = path.relative_to(PKG).with_suffix("").as_posix()
        for stmt in ast.parse(path.read_text(), str(path)).body:
            if isinstance(stmt, _DEFS):
                defs.setdefault(stmt.name, []).append((module, stmt))
            else:
                live |= _names(stmt)
    expanded: set[str] = set()
    while todo := (live & defs.keys()) - expanded:
        for name in todo:
            for _, stmt in defs[name]:
                live |= _names(stmt)
        expanded |= todo
    return {(module, name) for name in defs.keys() - expanded for module, _ in defs[name]}


def test_only_kept_defs_are_unreached():
    kept = {
        (module, name)
        for _, modules in KEEP.values()
        for module, names in modules.items()
        for name in names.split()
    }
    dead = unreached()
    assert sorted(dead - kept) == [], "unreached from every entry point: delete, or add to KEEP"
    assert sorted(kept - dead) == [], "reached now: remove from KEEP"
