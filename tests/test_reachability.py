"""Reachability gate: every top-level function and class in the package and
``jobs/`` must be referenced from program code — the package, ``jobs/``,
``oracle/`` or ``__spark_entry__.py`` — outside its own body. A definition
only tests call serves no user path (run_filter, run_dedup, the API), DAG,
stream, catalog entry or oracle twin, and is deleted with its tests.

References are bare names (``ast.Name`` ids, attribute names and imported
names), so the gate errs towards keeping: any same-named reference counts.
"""

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parents[1]
CHECKED = ["data_quality_autohealer_spark", "jobs"]
REFERENCING = [*CHECKED, "oracle", "__spark_entry__.py"]

# reached only from tests, kept on purpose
KEEP = {
    "all_dags": "registry of the five reference remediation DAGs",
    "build_crawl_to_mix_dag": "the crawl → training-mix pipeline DAG",
    "build_incremental_crawl_dag": "the incremental-crawl pipeline DAG",
    "SchemaRegistry": "the schema-drift DAG's registry, passed in its ctx",
    "stream_pages_from_files": "streaming path: file source",
    "encode_kafka_frame": "streaming path: Kafka producer-side twin of "
                          "decode_kafka_frame",
    "stream_pages_from_kafka": "streaming path: Kafka source",
    "kept_writer": "streaming path: exactly-once clean sink",
    "stream_dedup_pages": "streaming path: exact dedup within a watermark",
    "upsert_stream": "streaming path: foreachBatch CDC ingest",
    "stateful_host_quality": "streaming path: per-host running totals",
    "windowed_host_metrics": "streaming path: windowed per-host metrics",
    "simhash_native": "native twin the batched simhash is checked against",
    "reset_model_cache": "reloads the perplexity model after the model-path "
                         "override changes",
    "scrub_series": "the scrub kernel the benchmark times "
                    "(perfbench/kernels.py)",
}


def _files(entries):
    for e in entries:
        p = ROOT / e
        yield from ([p] if p.is_file() else sorted(p.rglob("*.py")))


def _names(node) -> set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rsplit(".", 1)[-1])
    return out


def _unreached() -> dict[str, str]:
    """{name: 'file:line'} of the top-level definitions in CHECKED that no
    REFERENCING file names outside the definition's own body."""
    checked = {ROOT / e for e in CHECKED}
    defs, refs = {}, []
    for path in _files(REFERENCING):
        tree = ast.parse(path.read_text(), str(path))
        mine = any(d in path.parents for d in checked)
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                 ast.ClassDef)):
                if mine:
                    defs[node.name] = f"{path.relative_to(ROOT)}:{node.lineno}"
                refs.append((node.name, _names(node)))
            else:
                refs.append((None, _names(node)))
    return {name: where for name, where in defs.items()
            if not any(name in names for owner, names in refs
                       if owner != name)}


def test_every_definition_is_reached_from_program_code():
    unreached = sorted(f"{where} {name}"
                       for name, where in _unreached().items()
                       if name not in KEEP)
    assert not unreached, (
        "referenced only by tests (delete them, or add them to KEEP with a "
        "reason):\n" + "\n".join(unreached))


def test_keep_list_is_exactly_the_kept_unreached_definitions():
    # a KEEP name that program code now reaches, or that no longer exists,
    # is stale
    assert sorted(set(KEEP) - set(_unreached())) == []
