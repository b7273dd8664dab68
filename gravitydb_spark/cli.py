"""CLI — the reference's ``gravitydb`` git-style command surface
(backend_filestore/src/cli_helpers.rs:59-248) over the Spark engine.

EP2 compat: ``query-db`` accepts the same serde-JSON query wire format
(e.g. ``{"V":{"Property":{"Specific":"<hash>"}}}``) so serialized
reference queries replay unchanged (cli_helpers.rs:271-277).

A ``--db`` is a :class:`~gravitydb_spark.transaction.TransactionalStore`
directory: ``init`` publishes the empty graph, every verb reads the
current snapshot, and every mutating verb commits a new snapshot (one
atomic ``CURRENT`` replace; a failed command leaves the db as it was)
and then keeps only it, parking the one it replaced until the next
command for readers that already resolved it.

Usage:
    python -m gravitydb_spark.cli init --db /path/to/graph
    python -m gravitydb_spark.cli create-node --db DB --type T [--value V] [--id ID]
    python -m gravitydb_spark.cli create-edge --db DB --from ID --to ID --type T
    python -m gravitydb_spark.cli delete-node --db DB --id ID
    python -m gravitydb_spark.cli property-id --type T [--value V]
    python -m gravitydb_spark.cli query-db --db DB [--input FILE|-]
    python -m gravitydb_spark.cli db-info --db DB
"""

from __future__ import annotations

import argparse
import json
import os
import sys

from .graph import PropertyGraph
from .hashing import prop_hash
from .plans.compiler import execute
from .ql import query_from_json
from .schema import Prop
from .session import get_spark
from .transaction import TransactionalStore


def _load(spark, db: str) -> PropertyGraph:
    if not os.path.isdir(db):  # a store would make the directory
        raise FileNotFoundError(f"{db}: no such db (init first)")
    return TransactionalStore(db).load(spark)


def _commit(db: str, g: PropertyGraph) -> None:
    """Publish ``g`` as the db's current snapshot and de-publish the rest."""
    store = TransactionalStore(db)
    store.commit(g)
    store.gc_snapshots(keep=1)


def cmd_init(args) -> int:
    spark = get_spark("gravitydb_cli")
    _commit(args.db, PropertyGraph.empty(spark))
    print(f"initialized empty graph at {args.db}")
    return 0


def cmd_create_node(args) -> int:
    # flag rules mirror cli_helpers.rs:104-115
    if args.update and not args.id:
        print("to update a node you need to provide an id", file=sys.stderr)
        return 1
    if args.create_id and args.get_or_create:
        print(
            "you can either force creating an id or use an existing one "
            "if possible but not both",
            file=sys.stderr,
        )
        return 1
    if args.update and args.get_or_create:
        print(
            "you can either update a node or get-or-create one but not both",
            file=sys.stderr,
        )
        return 1
    spark = get_spark("gravitydb_cli")
    g = _load(spark, args.db)
    prop = Prop(args.type, args.value)
    if args.update:
        # gc mirrors the reference's per-op refcount delete of the old
        # property once unreferenced (kv_graph_store.rs:555-582)
        try:
            g2 = g.update_nodes([(args.id, prop)]).gc()
        except KeyError as e:
            print(str(e.args[0]) if e.args else str(e), file=sys.stderr)
            return 1
        _commit(args.db, g2)
        print(args.id)
        return 0
    item = (args.id, prop)
    if args.get_or_create:
        g2, ids = g.get_or_create_nodes([item])
    else:
        if not args.create_id and args.id is None:
            # duplicate-content guard (cli_helpers.rs:168-170): same content
            # without an explicit id needs --create-id or --get-or-create
            from pyspark.sql import functions as F

            exists = (
                g.prop_refs.filter(
                    (F.col("ref_kind") == "node") & (F.col("prop_hash") == prop.hash)
                )
                .limit(1)
                .count()
            )
            if exists:
                print(
                    "node allready exists. Please use `--create-id` to create "
                    "a node with equal data anyway",
                    file=sys.stderr,
                )
                return 1
        g2, ids = g.create_nodes([item])
    if g2 is not g:
        _commit(args.db, g2)
    print(ids[0])
    return 0


def cmd_create_edge(args) -> int:
    spark = get_spark("gravitydb_cli")
    g = _load(spark, args.db)
    g2, ids = g.create_edges(
        [(getattr(args, "from"), args.to, Prop(args.type, args.value))]
    )
    _commit(args.db, g2)
    print(ids[0])
    return 0


def cmd_delete_node(args) -> int:
    spark = get_spark("gravitydb_cli")
    g = _load(spark, args.db).delete_nodes([args.id]).gc()
    _commit(args.db, g)
    return 0


def cmd_property_id(args) -> int:
    print(prop_hash(args.type, args.value))
    return 0


def cmd_property_blob(args) -> int:
    """PropertyBlob (cli_helpers.rs:206-211): serialize property content to
    the exact storage blob bytes — the canonical JSON that is hashed for
    content addressing."""
    from .hashing import canonical_json, tagged_property

    sys.stdout.write(canonical_json(tagged_property(args.type, args.value)))
    return 0


def cmd_script(args) -> int:
    """Script (cli_helpers.rs:229-234): run a script file against the db —
    the ``lua_run`` analog; here the scripting surface is Python. The
    script runs with the same bindings as the REPL (``spark``, ``db``,
    ``execute(q)``, ``Prop``, and the query builders).

    A ``.lua`` file (or ``--lua``) routes through the migration shim
    (lua_shim.py): the reference's Lua builder subset is transliterated
    and run with the lua.rs bindings, so existing gravitydb Lua scripts
    work unchanged."""
    from . import ql
    from .plans.compiler import execute as _execute

    spark = get_spark("gravitydb_cli")
    db = _load(spark, args.db)
    with open(args.script, encoding="utf-8") as f:
        code_text = f.read()
    if getattr(args, "lua", False) or args.script.endswith(".lua"):
        from .lua_shim import run_lua_script

        mutated, _ns = run_lua_script(
            db, code_text, args.script, extra_env={"spark": spark}
        )
        if mutated is not db:
            # the script ran db:create_node/… — persist, like every other
            # mutating verb (the reference's lua_run mutates the kv store)
            _commit(args.db, mutated)
        return 0
    ns = {
        "spark": spark,
        "db": db,
        "execute": lambda q: _execute(db, q),
        "Prop": Prop,
        **{n: getattr(ql, n) for n in ql.__all__},
    }
    exec(compile(code_text, args.script, "exec"), ns)  # noqa: S102 — the verb's purpose
    # a Python script mutates by rebinding ``db`` (snapshots are
    # immutable); persist the rebound graph like the Lua path
    out = ns.get("db")
    if isinstance(out, PropertyGraph) and out is not db:
        _commit(args.db, out)
    return 0


def cmd_result_data(args) -> int:
    """ResultData (cli_helpers.rs:236-248; docs/backends_filestore.adoc:918-924):
    enrich a QueryResult (ids only) with the elements' property data. The
    reference TODO-stubs the enrichment and echoes the input; implemented
    here per the documented purpose."""
    raw = (
        sys.stdin.read()
        if args.input in (None, "-")
        else open(args.input, encoding="utf-8").read()
    )
    data = json.loads(raw)
    spark = get_spark("gravitydb_cli")
    g = _load(spark, args.db)
    from pyspark.sql import functions as F

    def enrich(ids: list, table, key: str) -> list:
        if not ids:
            return []
        id_df = spark.createDataFrame([(i,) for i in ids], f"{key} string")
        rows = (
            table.join(F.broadcast(id_df), key)
            .join(g.properties, "prop_hash", "left")
            .select(key, "prop_hash", "schema_type", "value")
            .collect()
        )
        by_id = {
            r[key]: {
                "properties": r["prop_hash"],
                "schema_type": r["schema_type"],
                "value": None if r["value"] is None else json.loads(r["value"]),
            }
            for r in rows
        }
        return [{"id": i, **by_id.get(i, {"properties": None})} for i in ids]

    out = {
        "vertices": enrich(data.get("vertices", []), g.vertices, "id"),
        "edges": enrich(data.get("edges", []), g.edges, "edge_id"),
        "paths": data.get("paths", []),
        "variables": data.get("variables", {}),
    }
    json.dump(out, sys.stdout, indent=2)
    print()
    return 0


def cmd_doctor(args) -> int:
    """doctor (docs/backends_filestore.adoc:969-973, planned there):
    integrity audit — prints per-check violation counts (+ examples) and
    exits nonzero if the store is unhealthy."""
    spark = get_spark("gravitydb_cli")
    g = _load(spark, args.db)
    report, bad = {}, False
    for check, df in g.doctor().items():
        df = df.cache()  # each check is a full-store anti-join: run it once
        try:
            sample = [list(r) for r in df.limit(5).collect()]
            n = df.count()
        finally:
            df.unpersist()
        bad = bad or n > 0
        report[check] = {"violations": n, "examples": sample}
    report["healthy"] = not bad
    json.dump(report, sys.stdout, indent=2)
    print()
    return 1 if bad else 0


def cmd_query_db(args) -> int:
    raw = (
        sys.stdin.read()
        if args.input in (None, "-")
        else open(args.input, encoding="utf-8").read()
    )
    query = query_from_json(json.loads(raw))
    spark = get_spark("gravitydb_cli")
    res = execute(_load(spark, args.db), query)
    out = {
        "vertices": sorted(r["id"] for r in res.vertices.collect()),
        "edges": sorted(r["id"] for r in res.edges.collect()),
        "paths": [
            {
                "start": r["start"],
                "path": [[s["v"], s["e"]] for s in (r["path"] or [])],
                "end": r["end"],
            }
            for r in res.paths.collect()
        ],
        "variables": res.variables,
    }
    json.dump(out, sys.stdout, indent=2)
    print()
    return 0


def cmd_db_info(args) -> int:
    spark = get_spark("gravitydb_cli")
    json.dump(_load(spark, args.db).db_info(), sys.stdout, indent=2)
    print()
    return 0


def cmd_repl(args) -> int:
    """EP3 analog: the reference embeds a Lua REPL (lua.rs:368-449); here
    Python *is* the scripting surface — drop into an interactive session
    with the db and the query builders pre-bound. ``--lua`` instead runs
    the reference's ACTUAL repl loop: Lua lines, transliterated one input
    unit at a time through the migration shim, expression results echoed,
    mutations persisted on exit like every other mutating verb."""
    import code

    from . import ql
    from .plans.compiler import execute as _execute

    spark = get_spark("gravitydb_cli")
    db = _load(spark, args.db)
    if getattr(args, "lua", False):
        from .lua_shim import LuaRepl, LuaShimError

        repl = LuaRepl(db, extra_env={"spark": spark})
        print(
            "gravitydb lua repl — db:query(q), vq_all(), pq_from_id(), ... "
            "(lua.rs builder surface; tab completes, ^D to exit)"
        )
        # prompts only on a tty: piped sessions keep stdout clean for
        # the echoed results (input() writes its prompt to stdout)
        tty = sys.stdin.isatty()
        hist_path = None
        if tty:
            try:  # tab completion (rustyline analog) — tty sessions only
                import readline

                # keep ':' and '.' inside the completed token so method
                # position ("db:que<TAB>") reaches LuaRepl.completions
                readline.set_completer_delims(" \t\n(),=+-*/{}[]'\"")

                def _complete(text, state):
                    cands = repl.completions(text)
                    return cands[state] if state < len(cands) else None

                readline.set_completer(_complete)
                readline.parse_and_bind("tab: complete")
                # cross-session history — a DELIBERATE EXTENSION beyond
                # the reference (lua.rs:368-449 uses rustyline's default
                # in-memory history with no load/save_history call, so
                # the reference's history is session-local only; r11
                # ADVICE). We persist to a file: load on entry, save
                # bounded on exit.
                hist_path = os.path.expanduser(
                    "~/.gravitydb_spark_lua_history"
                )
                readline.set_history_length(1000)
                try:
                    readline.read_history_file(hist_path)
                except OSError:
                    pass  # first session — no history yet
            except ImportError:
                pass
        prompt, cont = "lua> ", "  .. "
        needs_more = False
        while True:
            try:
                line = input((cont if needs_more else prompt) if tty else "")
            except EOFError:
                print()
                break
            try:
                needs_more, val = repl.push(line)
            except LuaShimError as e:
                print(f"error: {e}", file=sys.stderr)
                needs_more = False
            except Exception as e:  # echo, keep the session alive (lua.rs repl does)
                print(f"error: {type(e).__name__}: {e}", file=sys.stderr)
                needs_more = False
            else:
                if not needs_more and val is not None:
                    print(json.dumps(val, indent=2, default=str))
        if hist_path is not None:
            try:
                import readline

                readline.write_history_file(hist_path)
            except (ImportError, OSError):
                pass  # history persistence is best-effort
        if repl.graph is not db:
            _commit(args.db, repl.graph)
            print(f"persisted mutations to {args.db}", file=sys.stderr)
        return 0
    ns = {
        "spark": spark,
        "db": db,
        "execute": lambda q: _execute(db, q),
        "Prop": Prop,
        **{n: getattr(ql, n) for n in ql.__all__},
    }
    code.interact(
        banner="gravitydb_spark repl — db, execute(q), Prop, vq_all(), "
        "eq_all(), pq_from_id(), ... are bound",
        local=ns,
    )
    return 0


def cmd_explain(args) -> int:
    """Explain: print a registered query's physical plan (the operator
    tooling a plan-shape review needs — the same string the plan-guard
    tests assert on). ``--query list`` prints the registered names."""
    from .registry import queries

    spark = get_spark("gravitydb_cli")
    qs = queries()
    if args.query == "list":
        for name in qs:
            print(name)
        return 0
    if args.query not in qs:
        print(f"unknown query {args.query!r}; try --query list", file=sys.stderr)
        return 1
    df = qs[args.query](spark, args.sf_dir)
    print(df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(args.mode)
    ))
    return 0



def cmd_run_query(args) -> int:
    """Run any registered query (all SURVEY.md §2 operators + the
    pipeline/analytics surface, 180+ names — `explain --query list`
    enumerates them) against --sf-dir and print JSON rows, bounded by
    --limit. The CLI twin of `__spark_entry__.queries()`: everything
    the driver gate checks is also runnable from a terminal."""
    from .registry import queries

    # queries() needs no SparkContext (CLAUDE.md invariant) — validate
    # the name BEFORE paying session startup
    qs = queries()
    if args.query not in qs:
        print(f"unknown query {args.query!r}; try explain --query list",
              file=sys.stderr)
        return 1
    spark = get_spark("gravitydb_cli")
    df = qs[args.query](spark, args.sf_dir)
    for line in df.limit(args.limit).toJSON().collect():
        print(line)
    return 0


def cmd_corpus_build(args) -> int:
    """Corpus build verb: run the full clean → dedup → decontaminate →
    mix → pack pipeline over --sf-dir and export manifested JSONL shards
    to --out (pipeline_queries.export_corpus_jsonl, audit-gated — a bad
    corpus ships nothing and exits 1). Prints the manifest JSON."""
    from .pipeline_queries import CorpusAuditError, export_corpus_jsonl

    spark = get_spark("gravitydb_cli")
    try:
        manifest = export_corpus_jsonl(
            spark, args.sf_dir, args.out, n_shards=args.shards
        )
    except CorpusAuditError as e:
        print(f"audit gate failed: {e}", file=sys.stderr)
        return 1
    json.dump(manifest, sys.stdout, indent=2)
    print()
    return 0


def cmd_zorder(args) -> int:
    """Layout verb: rewrite a parquet dataset z-ordered over two key
    columns (operators/layout.py) so footer min/max stats bound BOTH
    dimensions per file — the multi-column data-skipping layout. Prints
    a JSON summary with per-file span statistics before/after."""
    from .operators.layout import write_zordered

    names = [c.strip() for c in args.cols.split(",")]
    if len(names) != 2 or not all(names):
        print(
            "error: --cols must name exactly two comma-separated columns, "
            f"e.g. --cols x,y (got {args.cols!r})",
            file=sys.stderr,
        )
        return 1
    spark = get_spark("gravitydb_cli")
    xcol, ycol = names
    df = spark.read.parquet(args.src)
    write_zordered(df, args.out, xcol, ycol,
                   n_files=args.files)
    out_df = spark.read.parquet(args.out)
    summary = {
        "rows": out_df.count(),
        "cols": [xcol, ycol],
        "files": args.files,
        "out": args.out,
    }
    json.dump(summary, sys.stdout)
    print()
    return 0


def cmd_sql(args) -> int:
    """Ad-hoc SQL entry point: registers the corpus tables (region nation
    customer supplier part orders lineitem events documents embeddings)
    as temp views over --sf-dir and runs one ANSI-SQL statement through
    Catalyst, printing JSON rows (bounded by --limit). `events` is
    registered through load_events, so its ts column is the normalized
    BIGINT epoch-nanos contract regardless of the parquet encoding."""
    from .registry import load
    from .relational_queries import load_events

    spark = get_spark("gravitydb_cli")
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "documents", "embeddings"):
        load(spark, args.sf_dir, t).createOrReplaceTempView(t)
    load_events(spark, args.sf_dir).createOrReplaceTempView("events")
    df = spark.sql(args.statement)
    for line in df.limit(args.limit).toJSON().collect():
        print(line)
    return 0


def main(argv=None) -> int:
    p = argparse.ArgumentParser(prog="gravitydb_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    sp = sub.add_parser("init")
    sp.add_argument("--db", required=True)
    sp.set_defaults(fn=cmd_init)

    sp = sub.add_parser("create-node")
    sp.add_argument("--db", required=True)
    sp.add_argument("--type", required=True)
    sp.add_argument("--value")
    sp.add_argument("--id")
    sp.add_argument(
        "--get-or-create",
        action="store_true",
        help="return the existing node with identical property content "
        "instead of erroring (cli_helpers.rs:137-160)",
    )
    sp.add_argument(
        "--update",
        action="store_true",
        help="update the node's properties instead of creating (requires "
        "--id; cli_helpers.rs:104-115,178-182)",
    )
    sp.add_argument(
        "--create-id",
        action="store_true",
        help="force a fresh node even when identical property content "
        "exists (cli_helpers.rs:125-127)",
    )
    sp.set_defaults(fn=cmd_create_node)

    sp = sub.add_parser("create-edge")
    sp.add_argument("--db", required=True)
    sp.add_argument("--from", required=True)
    sp.add_argument("--to", required=True)
    sp.add_argument("--type", required=True)
    sp.add_argument("--value")
    sp.set_defaults(fn=cmd_create_edge)

    sp = sub.add_parser("delete-node")
    sp.add_argument("--db", required=True)
    sp.add_argument("--id", required=True)
    sp.set_defaults(fn=cmd_delete_node)

    sp = sub.add_parser("property-id")
    sp.add_argument("--type", required=True)
    sp.add_argument("--value")
    sp.set_defaults(fn=cmd_property_id)

    sp = sub.add_parser("property-blob")
    sp.add_argument("--type", required=True)
    sp.add_argument("--value")
    sp.set_defaults(fn=cmd_property_blob)

    sp = sub.add_parser("script")
    sp.add_argument(
        "--lua",
        action="store_true",
        help="treat the script as a gravitydb Lua script (migration shim)",
    )
    sp.add_argument("--db", required=True)
    sp.add_argument("script", help="Python file to run against the db")
    sp.set_defaults(fn=cmd_script)

    sp = sub.add_parser("result-data")
    sp.add_argument("--db", required=True)
    sp.add_argument("--input")
    sp.set_defaults(fn=cmd_result_data)

    sp = sub.add_parser("doctor")
    sp.add_argument("--db", required=True)
    sp.set_defaults(fn=cmd_doctor)

    sp = sub.add_parser("query-db")
    sp.add_argument("--db", required=True)
    sp.add_argument("--input")
    sp.set_defaults(fn=cmd_query_db)

    sp = sub.add_parser("db-info")
    sp.add_argument("--db", required=True)
    sp.set_defaults(fn=cmd_db_info)

    sp = sub.add_parser("explain")
    sp.add_argument("--query", required=True, help="registered query name, or 'list'")
    sp.add_argument("--sf-dir", dest="sf_dir", default="/root/testdata/sf0.001")
    sp.add_argument("--mode", default="formatted",
                    help="simple|extended|codegen|cost|formatted")
    sp.set_defaults(fn=cmd_explain)

    sp = sub.add_parser("corpus-build")
    sp.add_argument("--sf-dir", dest="sf_dir", default="/root/testdata/sf0.001")
    sp.add_argument("--out", required=True)
    sp.add_argument("--shards", type=int, default=4)
    sp.set_defaults(fn=cmd_corpus_build)

    sp = sub.add_parser("run-query")
    sp.add_argument("--query", required=True, help="registered query name")
    sp.add_argument("--sf-dir", dest="sf_dir", default="/root/testdata/sf0.001")
    sp.add_argument("--limit", type=int, default=100)
    sp.set_defaults(fn=cmd_run_query)

    sp = sub.add_parser("zorder")
    sp.add_argument("--src", required=True, help="input parquet path")
    sp.add_argument("--out", required=True, help="output parquet path")
    sp.add_argument("--cols", required=True, help="two columns: x,y")
    sp.add_argument("--files", type=int, default=32)
    sp.set_defaults(fn=cmd_zorder)

    sp = sub.add_parser("sql")
    sp.add_argument("statement", help="ANSI SQL over the corpus tables")
    sp.add_argument("--sf-dir", dest="sf_dir", default="/root/testdata/sf0.001")
    sp.add_argument("--limit", type=int, default=100)
    sp.set_defaults(fn=cmd_sql)

    sp = sub.add_parser("repl")
    sp.add_argument("--db", required=True)
    sp.add_argument(
        "--lua",
        action="store_true",
        help="interactive Lua loop (lua.rs:368-449) via the migration shim",
    )
    sp.set_defaults(fn=cmd_repl)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
