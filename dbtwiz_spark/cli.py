"""CLI mirroring the reference's command tree (dbtwiz/cli/main.py:6-26:
build/test/manifest sub-apps + admin backfill/cleandev/orphaned/
partition-expiry/restore + freshness). argparse (stdlib) instead of typer —
same commands, same semantics, Spark underneath.

    python -m dbtwiz_spark build --project P --warehouse W --select my_model+
    python -m dbtwiz_spark backfill --project P --warehouse W \
        --select daily_orders --first 2024-01-01 --last 2024-03-31
    python -m dbtwiz_spark admin orphaned --project P --warehouse W
"""

from __future__ import annotations

import argparse
import json
import sys
from datetime import date


class CliError(RuntimeError):
    """User-facing CLI error: main() prints it and exits 1 (no traceback)."""


def _spark():
    from dbtwiz_spark.session import get_spark

    return get_spark("dbtwiz_spark-cli")


def _target_warehouse(project: str, target: str, kind: str = "target") -> str:
    """Resolve a named target's warehouse path through the project.yml
    ``targets:`` section; relative paths resolve against the project
    directory. Shared by --target and --defer-target resolution."""
    from pathlib import Path

    from dbtwiz_spark.project import project_targets

    targets = project_targets(project)
    if target not in targets:
        raise CliError(
            f"{kind} {target!r} not declared in project.yml targets "
            f"(declared: {sorted(targets)})"
        )
    raw = str(targets[target]["warehouse"])
    p = Path(raw)
    return raw if p.is_absolute() else str(Path(project) / p)


def _resolve_warehouse(args) -> str:
    """--warehouse wins; otherwise --target resolves through the
    project.yml ``targets:`` section (reference: target environment choice
    selects the warehouse, dbt/target.py + commands/build.py:62)."""
    wh = getattr(args, "warehouse", None)
    if wh:
        return wh
    target = getattr(args, "target", None)
    if not target:
        raise CliError("either --warehouse or --target is required")
    return _target_warehouse(args.project, target)


def _load(args):
    from dbtwiz_spark.materialize import Warehouse
    from dbtwiz_spark.project import load_project
    from dbtwiz_spark.runner import Runner

    manifest, variables = load_project(args.project)
    if getattr(args, "vars", None):
        variables.update(json.loads(args.vars))
    wh = Warehouse(_spark(), _resolve_warehouse(args))
    dwh = None
    defer_target = getattr(args, "defer_target", None)
    if defer_target:
        dwh = Warehouse(
            wh.spark, _target_warehouse(args.project, defer_target, "defer target")
        )
    return (
        Runner(wh.spark, manifest, wh, variables=variables, defer_warehouse=dwh),
        manifest,
        wh,
    )


def _apply_graph_flags(select: str, upstream: bool, downstream: bool) -> str:
    """--upstream/--downstream sugar: mark every selector term with the
    +graph operators, tokenizing commas exactly like the selector grammar
    (manifest.select treats commas as unions)."""
    if not (upstream or downstream):
        return select
    terms = select.replace(",", " ").split()
    if upstream:
        terms = ["+" + t if not t.startswith("+") else t for t in terms]
    if downstream:
        terms = [t + "+" if not t.endswith("+") else t for t in terms]
    return " ".join(terms)


def cmd_build(args) -> int:
    import json as _json
    from pathlib import Path as _Path

    last_file = _Path(args.project) / ".dbtwiz_spark" / "last_select.json"
    if getattr(args, "last", False):
        if not last_file.exists():
            # silently falling back to '*' would build the whole project
            # when the user asked to replay a previous narrow selection
            print("no previous selection recorded (missing "
                  f"{last_file}); run a build with --select first")
            return 1
        try:
            saved = _json.loads(last_file.read_text())
        except ValueError:
            # a pre-atomic-write crash could leave truncated json; the
            # remedy is the same as a missing file, said plainly instead
            # of a traceback
            print(f"previous selection record {last_file} is corrupt; "
                  "run a build with --select first")
            return 1
        args.select, args.exclude = saved["select"], saved.get("exclude")
        # replay the graph/refresh flags too: `build --select a -u` then
        # `build --last` must rebuild a+upstream, not just 'a' (the
        # reference's replay reconstructs the full previous args,
        # dbtwiz/admin/backfill.py:522). Flags given alongside --last OR
        # with the saved ones.
        for flag in ("upstream", "downstream", "full_refresh"):
            if saved.get(flag):
                setattr(args, flag, True)
        # a replayed state:modified selector is meaningless without the
        # state file it was diffed against — replaying it with state=None
        # would fingerprint-mismatch EVERY model and rebuild the project
        if saved.get("state") and not args.state:
            args.state = saved["state"]
    if getattr(args, "retry_failed", False):
        # dbt retry: re-run exactly the models that errored or were
        # skipped in the previous invocation, from the persisted status
        # map (written at the end of every build)
        results_file = _Path(args.project) / ".dbtwiz_spark" / "last_results.json"
        if not results_file.exists():
            print("no previous run recorded (missing "
                  f"{results_file}); run a build first")
            return 1
        try:
            prior = _json.loads(results_file.read_text())
        except ValueError:
            print(f"previous run record {results_file} is corrupt; "
                  "run a build first")
            return 1
        failed = sorted(m for m, s in prior.items() if s in ("error", "skipped"))
        if not failed:
            print("nothing to retry: previous run had no errors")
            return 0
        args.select = " ".join(failed)
        print(f"retrying failed/skipped models: {args.select}")
    if getattr(args, "work", False):
        # reference `build --work` (commands/__init__.py:106 +
        # dbt/support.py models_with_local_changes): restrict to models
        # with local git changes. Headless-deterministic: the changed set
        # IS the selection; an explicit selector fuzzy-filters it (the
        # reference feeds it to fzf as the initial query).
        from dbtwiz_spark.model_ops import locally_changed_model_files

        changed = [p.stem for p in locally_changed_model_files(args.project)]
        if not changed:
            print("no new or modified models found")
            return 1
        if args.select != "*":
            from dbtwiz_spark import picker as _picker

            changed = _picker.fuzzy_rank(args.select, changed)
            if not changed:
                print(f"no locally changed model matches {args.select!r}")
                return 1
        args.select = " ".join(sorted(changed))
        print(f"building locally changed models: {args.select}")
    target = getattr(args, "target", None)
    if target and args.select == "*":
        # reference target semantics (commands/build.py:106-115): dev with
        # no selector is an error (a bare dev build of the whole project is
        # never what was meant); a non-dev target defaults to rebuilding
        # modified models + downstream when the target declares a state
        # fingerprint file (the reference's state:modified+ with defer)
        if target == "dev":
            print("error: a selector is required with the dev target")
            return 1
        from pathlib import Path as _P

        from dbtwiz_spark.project import project_targets

        tcfg = project_targets(args.project).get(target) or {}
        if tcfg.get("state") and not args.state:
            sp = _P(str(tcfg["state"]))
            args.state = str(sp if sp.is_absolute() else _P(args.project) / sp)
            args.select = "state:modified+"
            print(f"no selector given: building state:modified+ vs {args.state}")
    runner, manifest, _ = _load(args)
    if args.start:
        runner.variables["data_interval_start"] = args.start
        runner.variables["data_interval_end"] = args.end or args.start
    state = None
    if args.state:
        from dbtwiz_spark.manifest import Manifest

        state = Manifest.load_state(args.state)
    from dbtwiz_spark import picker

    if not picker.can_select_directly(args.select, manifest.models):
        # unknown bare name: offer the interactive fuzzy picker on a TTY
        # (reference choose_models); headless runs fall through to the
        # selector's own unknown-model error
        picked = picker.pick_interactively(args.select, manifest.models)
        if picked:
            args.select = " ".join(picked)
        elif picked is not None:  # interactive session, user aborted
            print("no models selected")
            return 1
    if not getattr(args, "last", False):
        # saved state = the last EXPLICIT invocation, recorded AFTER the
        # fuzzy picker resolved it (a typo'd selector must replay as what
        # was actually built). A --last replay never re-saves: one-off
        # flags added alongside --last (e.g. a single --full-refresh)
        # must not become sticky for every future --last run.
        from dbtwiz_spark.fsutil import atomic_write_text

        atomic_write_text(last_file, _json.dumps({
            "select": args.select,
            "exclude": getattr(args, "exclude", None),
            "upstream": getattr(args, "upstream", False),
            "downstream": getattr(args, "downstream", False),
            "full_refresh": getattr(args, "full_refresh", False),
            # state:modified selectors are meaningless without the state
            # file they were diffed against — replay must restore both
            "state": getattr(args, "state", None),
        }))
    select = _apply_graph_flags(
        args.select,
        getattr(args, "upstream", False),
        getattr(args, "downstream", False),
    )
    results = runner.run(select, state=state,
                         exclude=getattr(args, "exclude", None),
                         threads=getattr(args, "threads", 1),
                         full_refresh=getattr(args, "full_refresh", False),
                         fail_fast=getattr(args, "fail_fast", False))
    for r in results:
        # rows= is the rows this run wrote (dbt's rows_affected), not the
        # table's size: an incremental run reports only its partitions
        line = f"{r.status:8s} {r.model}" + (f"  rows={r.rows}" if r.rows is not None else "")
        print(line + (f"  {r.error}" if r.error else ""))
    # per-model statuses persist for `build --retry-failed` (dbt retry):
    # written on every build so the retry basis is always the latest run
    results_file = _Path(args.project) / ".dbtwiz_spark" / "last_results.json"
    from dbtwiz_spark.fsutil import atomic_write_text

    atomic_write_text(results_file, _json.dumps(
        {r.model: r.status for r in results}, indent=1, sort_keys=True))
    return 0 if all(r.status != "error" for r in results) else 1


def cmd_explain(args) -> int:
    """Compile a model (refs inlined, nothing built) and print the physical
    plan + scale audit — dbt `compile` + BigQuery dry-run analog."""
    runner, manifest, _ = _load(args)
    if args.name not in manifest.models:
        print(f"unknown model: {args.name}")
        return 1
    if args.start:
        runner.variables["data_interval_start"] = args.start
        runner.variables["data_interval_end"] = args.end or args.start
    try:
        sql, plan, notes = runner.explain(args.name)
    except ValueError as e:  # e.g. interval_start() without --start
        print(f"cannot compile {args.name}: {e}")
        return 1
    if args.sql:
        print("-- compiled SQL")
        print(sql.strip())
        print()
    print(plan)
    print("-- plan audit")
    for n in notes:
        print(f"  {n}")
    return 0


def cmd_test(args) -> int:
    """Model checks (the dbt-test surface the reference's `test` command
    drives): the declared unique_key plus per-column data tests from the
    YAML sidecar — not_null / unique / accepted_values / relationships
    (dbt's four built-in generic tests) — plus model-level custom tests
    (dbt's singular tests): `expression` row predicates and `sql` queries
    that select violating rows. One aggregated violation count per
    check; every check is a single Spark job over the built table."""
    from pyspark.sql import functions as F

    runner, manifest, wh = _load(args)
    failures = 0

    def report(ok: bool, name: str, what: str, detail: str) -> None:
        nonlocal failures
        failures += 0 if ok else 1
        print(f"{'pass' if ok else 'FAIL':4s} {name}: {what} ({detail})")

    selected = manifest.select(args.select)
    # lazy ref-resolution state, built once on first need: sql tests must
    # render refs, and testing a VIEW model needs its ancestors registered
    # before the view SQL can parse (most table-only test runs pay neither)
    test_resolve = None

    def ensure_registered() -> dict:
        """One-time ref registration: sources + out-of-selection ancestors
        (runner._register_unbuilt), then EVERY selected built model/view
        in topo order — a sql test may ref any of them, and a selected
        view's parents must carry temp views before its SQL parses. All
        registrations are UNFILTERED; a --date-scoped model re-registers
        its filtered rows under its own name afterwards."""
        nonlocal test_resolve
        if test_resolve is None:
            test_resolve = runner._resolve_map()
            runner._register_unbuilt(selected)
            for other in selected:
                try:
                    if other in wh.views or wh.exists(other):
                        wh.read(other).createOrReplaceTempView(other)
                except Exception as e:  # noqa: BLE001 — surface at use site
                    print(f"[test] could not register {other!r}: {e}")
        return test_resolve

    for name in selected:
        m = manifest.models[name]
        mtests = getattr(m, "tests", []) or []
        has_checks = bool(
            m.unique_key or mtests
            or any((cs.get("tests") or []) for cs in m.columns)
        )
        # Warehouse.read precedence: a persisted view definition WINS over
        # a leftover table dir (table→view migration), so the view path is
        # keyed on the registry alone
        is_view = name in wh.views
        if not (wh.exists(name) or is_view):
            continue
        if not has_checks:
            # nothing would be reported — skip the read (and, for a
            # test-less view, the whole resolve pass it would trigger)
            continue
        if is_view or any(isinstance(t, dict) and "sql" in t for t in mtests):
            # views read through their SQL (ancestors must resolve), and
            # sql tests may ref any selected model — register BEFORE the
            # --date-filtered own-name registration below so downstream
            # views never capture a filtered plan
            ensure_registered()
        try:
            df = wh.read(name)
        except Exception as e:  # noqa: BLE001 — an unparseable view is a
            # failed check, not a crash of the whole test run
            report(False, name, "readable", f"{e}")
            continue
        if getattr(args, "date", None) and m.partition_by:
            # reference `test --date`: check only that date's partition —
            # at scale the difference between testing today's increment and
            # re-scanning the whole history on every run
            df = df.filter(F.col(m.partition_by) == args.date.isoformat())
            if df.isEmpty():
                # vacuous green is worse than noise: a typo'd or unbuilt
                # date would otherwise "pass" every check on zero rows
                report(False, name, f"partition {args.date}",
                       "no rows — partition missing or never built")
                continue
        if m.unique_key:
            total = df.count()
            distinct = df.select(m.unique_key).distinct().count()
            report(total == distinct, name, f"pk {m.unique_key}",
                   f"{distinct} distinct / {total} rows")
        for col_spec in m.columns:
            col = col_spec.get("name")
            for t in col_spec.get("tests", []) or []:
                if t == "not_null":
                    bad = df.filter(F.col(col).isNull()).count()
                    report(bad == 0, name, f"not_null {col}", f"{bad} nulls")
                elif t == "unique":
                    tot = df.filter(F.col(col).isNotNull()).count()
                    dst = df.select(col).filter(F.col(col).isNotNull()).distinct().count()
                    report(tot == dst, name, f"unique {col}",
                           f"{dst} distinct / {tot} non-null")
                elif isinstance(t, dict) and "accepted_values" in t:
                    vals = t["accepted_values"]
                    bad = df.filter(
                        F.col(col).isNotNull() & ~F.col(col).isin(vals)
                    ).count()
                    report(bad == 0, name, f"accepted_values {col}",
                           f"{bad} outside {vals}")
                elif isinstance(t, dict) and "relationships" in t:
                    rel = t["relationships"]  # {to: model, field: col}
                    if not wh.exists(rel["to"]) and rel["to"] not in wh.views:
                        report(False, name, f"relationships {col}->{rel['to']}",
                               "parent table not built")
                        continue
                    if rel["to"] in wh.views:
                        # a view parent parses through temp views — make
                        # the selection's registrations available first
                        ensure_registered()
                    try:
                        parent = wh.read(rel["to"]).select(
                            F.col(rel["field"]).alias(col)
                        )
                        bad = (
                            df.select(col).filter(F.col(col).isNotNull())
                            .join(parent, col, "left_anti").count()
                        )
                    except Exception as e:  # noqa: BLE001 — unreadable
                        # parent = failed check, not a command crash
                        report(False, name, f"relationships {col}->{rel['to']}",
                               f"unreadable parent: {e}")
                        continue
                    report(bad == 0, name, f"relationships {col}->"
                           f"{rel['to']}.{rel['field']}", f"{bad} orphans")
                else:
                    report(False, name, f"unknown test {t!r} on {col}", "skipped")
        # model-level custom tests (dbt's singular-test surface): an
        # `expression` is a row predicate that must hold on every row; a
        # `sql` test is a full query (refs render like model SQL) that must
        # return ZERO rows — it SELECTs the violations
        if mtests:
            # the (possibly partition-filtered) rows under test are what a
            # rendered ref to this model resolves to — same date scoping as
            # the generic tests
            df.createOrReplaceTempView(name)
        for t in mtests:
            if isinstance(t, dict) and "expression" in t:
                try:
                    bad = df.filter(~F.expr(t["expression"])).count()
                except Exception as e:  # noqa: BLE001 — a typo'd predicate
                    report(False, name, f"expression {t['expression']}",
                           f"invalid: {e}")
                    continue
                report(bad == 0, name, f"expression {t['expression']}",
                       f"{bad} violating rows")
            elif isinstance(t, dict) and "sql" in t:
                label = t.get("name") or "sql test"
                resolve = ensure_registered()
                from dbtwiz_spark.macros import render as _render_sql

                try:
                    rendered = _render_sql(
                        t["sql"], resolve=resolve,
                        variables=runner.variables,
                        interval_start=runner.variables.get("data_interval_start"),
                        interval_end=runner.variables.get("data_interval_end"),
                    )
                    bad = wh.spark.sql(rendered).count()
                except Exception as e:  # noqa: BLE001 — surface, don't abort
                    report(False, name, label, f"invalid: {e}")
                    continue
                report(bad == 0, name, label, f"{bad} failing rows")
            else:
                report(False, name, f"unknown model test {t!r}", "skipped")
        if mtests:
            # restore the UNFILTERED view once this model's tests ran: a
            # later model's sql test ref'ing this one must see all rows,
            # not the partition slice scoped to this model's --date check
            # (ensure_registered registers every selected model, current
            # included, so no other self-registration is needed)
            wh.read(name).createOrReplaceTempView(name)
    return 0 if failures == 0 else 1


def cmd_manifest(args) -> int:
    manifest, _ = _load_manifest_only(args)
    order = manifest.select(args.select)
    if getattr(args, "format", "json") == "dot":
        # Graphviz export of the selected subgraph (lineage docs / review
        # diagrams): sources as ellipses, models shaped by materialization
        shapes = {"view": "note", "ephemeral": "component"}
        print("digraph models {")
        print("  rankdir=LR;")
        in_sel = set(order)
        for name in order:
            m = manifest.models[name]
            shape = shapes.get(m.materialized, "box")
            print(f'  "{name}" [shape={shape} label="{name}\\n{m.materialized}"];')
            for p in sorted(manifest.parent_map.get(name, ())):
                if p in in_sel or p in manifest.sources:
                    print(f'  "{p}" -> "{name}";')
        for s in sorted(manifest.sources):
            if any(s in manifest.parent_map.get(n, ()) for n in order):
                print(f'  "{s}" [shape=ellipse label="{s}\\nsource"];')
        print("}")
        if getattr(args, "save_state", None):
            manifest.save_state(args.save_state)
        return 0
    out = {
        name: {
            "materialized": manifest.models[name].materialized,
            "parents": sorted(manifest.parent_map.get(name, ())),
            "children": sorted(manifest.child_map.get(name, ())),
            "fingerprint": manifest.models[name].fingerprint(),
        }
        for name in order
    }
    print(json.dumps(out, indent=2))
    if getattr(args, "save_state", None):
        manifest.save_state(args.save_state)
    return 0


def _load_manifest_only(args):
    from dbtwiz_spark.project import load_project

    return load_project(args.project)


def cmd_backfill(args) -> int:
    from dbtwiz_spark.backfill import BackfillJournal, run_backfill

    runner, _, _ = _load(args)
    journal = BackfillJournal(args.journal) if args.journal else None
    batch_days = args.batch_days
    if batch_days is None:
        from dbtwiz_spark.backfill import project_default_batch_size

        try:
            batch_days = project_default_batch_size(args.project)
        except ValueError as e:
            print(f"error: {e}")
            return 1
    task_ranges = None
    if args.task_ranges:
        from dbtwiz_spark.backfill import parse_task_ranges

        try:
            task_ranges = parse_task_ranges(args.task_ranges)
        except ValueError as e:
            print(f"error: {e}")
            return 1
    if task_ranges is not None:
        if args.first or args.last:
            # run_backfill would silently ignore them (each worker runs
            # exactly its range) — accepting a narrowing that never
            # happens is worse than rejecting the combination
            print("error: --first/--last cannot be combined with "
                  "--task-ranges (each worker runs exactly its range)")
            return 1
        # the envelope of the ranges stands in so run_backfill's
        # signature stays uniform
        first = min(a for a, _ in task_ranges)
        last = max(b for _, b in task_ranges)
    elif not (args.first and args.last):
        print("error: --first and --last are required unless --task-ranges "
              "is given")
        return 1
    else:
        first, last = args.first, args.last
    try:
        results = run_backfill(
            runner,
            args.select,
            first,
            last,
            batch_size=batch_days,
            journal=journal,
            retry_failed_only=args.retry,
            serial=not args.parallel_safe,
            exclude=args.exclude or "tag:no_backfill",
            task_index=args.task_index,
            task_count=args.task_count,
            task_ranges=task_ranges,
        )
    except ValueError as e:
        print(f"error: {e}")
        return 1
    for (lo, hi), status in results:
        print(f"{lo}..{hi}  {status}")
    return 0 if all(s == "success" for _, s in results) else 1


def cmd_orphaned(args) -> int:
    from dbtwiz_spark.admin import find_orphaned

    runner, manifest, wh = _load(args)
    orphans = find_orphaned(wh, manifest)
    for t in orphans:
        print(t)
        if args.delete:
            wh.delete_table(t)
    return 0


def cmd_cleandev(args) -> int:
    from dbtwiz_spark.admin import cleandev
    from dbtwiz_spark.materialize import Warehouse

    wh = Warehouse(_spark(), args.warehouse)
    for t in cleandev(wh, dry_run=not args.force):
        print(("deleted " if args.force else "would delete ") + t)
    return 0


def cmd_partition_expiry(args) -> int:
    from dbtwiz_spark.admin import expire_partitions, expiry_mismatches

    runner, manifest, wh = _load(args)
    mismatches = expiry_mismatches(wh, manifest)
    for name, (declared, oldest) in mismatches.items():
        print(f"{name}: declared {declared}d, oldest partition {oldest}d")
        if args.apply:
            m = manifest.models[name]
            doomed = expire_partitions(
                wh, name, m.partition_by or "partitiondate",
                m.partition_expiration_days, dry_run=False,
            )
            print(f"  expired {len(doomed)} partitions")
    return 0


def cmd_restore(args) -> int:
    from dbtwiz_spark.materialize import Warehouse

    wh = Warehouse(_spark(), args.warehouse)
    wh.restore(args.table, args.at_ms)
    print(f"restored {args.table} to snapshot <= {args.at_ms}")
    return 0


def cmd_compact(args) -> int:
    from dbtwiz_spark.materialize import Warehouse

    wh = Warehouse(_spark(), args.warehouse)
    stats = wh.compact(
        args.table,
        target_file_bytes=args.target_mb << 20,
        min_files=args.min_files,
    )
    print(
        f"compacted {stats['partitions']} partition(s): "
        f"{stats['files_before']} -> {stats['files_after']} files"
    )
    return 0


def cmd_expire_snapshots(args) -> int:
    """Warehouse-wide snapshot GC: expire every table's time-travel
    snapshots older than the retention window (per-table
    Warehouse.expire_snapshots, swept like the reference's partition
    expiration jobs, dbtwiz/admin/partition.py run-all shape)."""
    from dbtwiz_spark.admin import list_catalog_tables
    from dbtwiz_spark.materialize import Warehouse

    wh = Warehouse(_spark(), args.warehouse)
    if args.table:
        if not wh.exists(args.table):
            # a misspelled table sweeping nothing and exiting 0 would
            # read as "GC ran" while snapshots keep accumulating
            print(f"error: no table {args.table!r} in {args.warehouse}")
            return 1
        tables = [args.table]
    else:
        # __old_* crash-recovery dirs are NOT tables: their snapshot
        # history belongs to the interrupted publish and is _recover's to
        # surface, never this sweep's to GC
        tables = [
            t for t in list_catalog_tables(wh) if "__old_" not in t
        ]
    total = 0
    for t in tables:
        kw = (
            {"older_than_days": args.older_than_days}
            if args.older_than_days is not None
            else {}  # Warehouse's own TIME_TRAVEL_WINDOW_DAYS default
        )
        n = wh.expire_snapshots(t, **kw)
        if n:
            print(f"{t}: expired {n} snapshot(s)")
        total += n
    print(f"{total} snapshot(s) expired across {len(tables)} table(s)")
    return 0


def cmd_freshness(args) -> int:
    from dbtwiz_spark.admin import check_freshness, check_source_freshness
    from dbtwiz_spark.materialize import Warehouse

    if getattr(args, "sources", False):
        # dbt-style sweep of every source with a freshness: block
        from dbtwiz_spark.project import load_project

        manifest, _ = load_project(args.project)
        results = check_source_freshness(_spark(), manifest)
        for name, status, age_h in results:
            print(f"{status:5s} {name}: age {age_h:.1f}h")
        if not results:
            print("no sources declare a freshness block")
        return 0 if all(s != "error" for _n, s, _a in results) else 1
    if not (args.table and args.column and args.max_age_hours is not None):
        print("admin freshness needs --table, --column and --max-age-hours "
              "(or --sources for the config-driven sweep)")
        return 2
    wh = Warehouse(_spark(), args.warehouse)
    ok, age_h = check_freshness(wh, args.table, args.column, args.max_age_hours)
    print(f"{'fresh' if ok else 'STALE'}: {args.table}.{args.column} age {age_h:.1f}h")
    return 0 if ok else 1


def cmd_sync_descriptions(args) -> int:
    from dbtwiz_spark.admin import sync_descriptions

    _, manifest, wh = _load(args)
    applied = sync_descriptions(wh, manifest)
    for name, delta in applied.items():
        print(f"{name}: updated {sorted(delta)}")
    if not applied:
        print("descriptions in sync")
    return 0


def cmd_update_grants(args) -> int:
    from dbtwiz_spark.admin import update_grants

    _, manifest, wh = _load(args)
    changed = update_grants(wh, manifest)
    for name, (granting, revoking) in changed.items():
        for role, principals in granting.items():
            print(f"{name}: +{role} {sorted(principals)}")
        for role, principals in revoking.items():
            print(f"{name}: -{role} {sorted(principals)}")
    if not changed:
        print("grants in sync")
    return 0


def cmd_update_clustering(args) -> int:
    from dbtwiz_spark.admin import recluster

    _, manifest, wh = _load(args)
    for name in manifest.select(args.select):
        m = manifest.models[name]
        if m.cluster_by and wh.exists(name):
            recluster(wh, name, m.partition_by, m.cluster_by)
            print(f"reclustered {name} by {m.cluster_by}")
    return 0


_MODEL_SQL_TEMPLATE = """\
SELECT
    *
FROM {{{{ ref('{parent}') }}}}
"""


def _governance_wizard(
    args, gov, input_fn=None, print_fn=print, inherited=None
) -> None:
    """Prompt for missing/invalid governance values on a TTY (reference
    wizard flow: dbtwiz/model/create.py:132-301 select_group /
    select_access / select_team — each prompts only when the CLI value is
    absent or fails vocabulary validation). Non-TTY without an injected
    ``input_fn`` degrades to flag-driven (no prompt, values stay as
    given); ``--quick`` skips prompting entirely, like the reference."""
    import sys as _sys

    from dbtwiz_spark.picker import select_from_choices
    from dbtwiz_spark.project import ACCESS_CHOICES

    if getattr(args, "quick", False):
        return
    injected = input_fn is not None
    if input_fn is None:
        if not _sys.stdin.isatty():
            return
        input_fn = input

    def ask(field: str, choices: dict, current, allow_none=True):
        if not choices:
            return current  # nothing declared to choose from
        if current and (current in choices):
            return current
        if not current and (inherited or {}).get(field):
            # reference create.py:160-177: an inherited value means no
            # prompt and NO sidecar key — the hierarchy keeps providing it
            return None
        if current:
            print_fn(f"provided {field} {current!r} is invalid — re-select")
        return select_from_choices(
            f"Select {field}", choices, allow_none=allow_none,
            input_fn=input_fn, print_fn=print_fn,
        )

    args.group = ask("group", gov.groups, args.group)
    args.access = ask("access", ACCESS_CHOICES, args.access)
    # service consumers: the reference multiselects with an exclusive
    # 'n/a' row (create.py:355-372 + ui/interact.py:110-127); prompted
    # only when the vocabulary is declared and no flag value was given.
    # hasattr-gated: wizard callers that predate the field skip it.
    # isatty-gated like the description prompt (r14 verdict nit): even
    # though the wizard's top-of-function gate already returns on a
    # non-TTY un-injected run, the multiselect consumes a full stdin
    # line, so it carries its own guard — a scripted pipeline must
    # never lose a line to it.
    if (
        gov.service_consumers
        and hasattr(args, "service_consumer")
        and not args.service_consumer
        and (injected or _sys.stdin.isatty())
    ):
        from dbtwiz_spark.picker import multiselect_from_choices

        picks = multiselect_from_choices(
            "Which service consumers need access to the model",
            gov.service_consumers, allow_none=True,
            input_fn=input_fn, print_fn=print_fn,
        )
        args.service_consumer = picks or []
    if gov.access_policies and hasattr(args, "access_policy"):
        args.access_policy = ask(
            "access-policy", gov.access_policies, args.access_policy
        )
    # --team is repeatable: valid flag values are ALWAYS kept; each
    # invalid one is re-prompted individually (replacement or dropped on
    # empty input); an entirely missing list gets one prompt
    if gov.teams:
        valid = [t for t in args.team if t in gov.teams]
        invalid = [t for t in args.team if t not in gov.teams]
        if not args.team:
            team = select_from_choices(
                "Select team", gov.teams, allow_none=True,
                input_fn=input_fn, print_fn=print_fn,
            )
            args.team = [team] if team else []
        elif invalid:
            for t in invalid:
                print_fn(f"provided team {t!r} is invalid — re-select")
                pick = select_from_choices(
                    f"Replace team {t!r}", gov.teams, allow_none=True,
                    input_fn=input_fn, print_fn=print_fn,
                )
                if pick and pick not in valid:
                    valid.append(pick)
            args.team = valid


def cmd_model_create(args) -> int:
    """Scaffold a model (.sql + .yml config sidecar) — the reference's
    `model create` wizard (dbtwiz/model/create.py:430-474 writes the same
    pair; get_config :440-497 defines the sidecar layout: access/group
    top-level, teams/access-policy/service-consumers under meta, the
    update frequency as a tag). Governance values are validated against
    the project vocabulary (create.py:132-301) and prompted for on a TTY
    (non-TTY runs stay flag-driven)."""
    import yaml as _yaml
    from pathlib import Path

    from dbtwiz_spark.manifest import Model
    from dbtwiz_spark.project import (
        FREQUENCY_CHOICES,
        load_governance,
        load_layers,
        validate_governance,
    )

    models = Path(args.project) / "models"
    name = args.name
    if args.layer or args.domain:
        # layered layout (dbtwiz/core/model.py ModelBasePath): the model
        # lives at models/<layer_folder>/<domain>/ and its name carries
        # the <abbr>_<domain>__ prefix; --name gives the identifier (a
        # pre-prefixed name passes through untouched)
        if not (args.layer and args.domain):
            print("--layer and --domain must be given together")
            return 1
        layers = load_layers(args.project)
        if args.layer not in layers:
            print(f"invalid --layer {args.layer!r} "
                  f"(choose from {sorted(layers)})")
            return 1
        layer_folder, abbr = layers[args.layer]
        prefix = f"{abbr}_{args.domain}__"
        if not name.startswith(prefix):
            name = prefix + name
        models = models / layer_folder / args.domain
        if args.layer == "staging" and args.materialized != "view":
            # reference parity (create.py:336-346): staging models are
            # always views
            print("setting materialization to view (required for staging)")
            args.materialized = "view"
    # directories are created only after every validation below passes —
    # a failed create must not litter empty layer/domain folders
    sql_path = models / f"{name}.sql"
    if sql_path.exists() and not args.force:
        print(f"refusing to overwrite {sql_path} (use --force)")
        return 1

    gov = load_governance(args.project)
    inherited = {"group": None, "access": None}
    if args.layer and args.domain:
        # layer_folder was resolved by the layered-layout branch above
        from dbtwiz_spark.project import inherited_model_config

        proj_file = Path(args.project) / "project.yml"
        proj = (
            _yaml.safe_load(proj_file.read_text()) or {}
            if proj_file.exists()
            else {}
        )
        inherited = inherited_model_config(
            proj.get("models") or {}, proj.get("name"), layer_folder,
            args.domain,
        )
        # an inherited value must itself be valid — a typo'd +group in
        # project.yml would otherwise propagate silently at create time
        # and fail every later validate of the whole subtree
        from dbtwiz_spark.project import ACCESS_CHOICES

        if inherited["group"] and gov.groups and (
            inherited["group"] not in gov.groups
        ):
            print(f"invalid: inherited group {inherited['group']!r} "
                  "(project.yml models hierarchy) is not declared in "
                  "models/model_groups.yml")
            return 1
        if inherited["access"] and inherited["access"] not in ACCESS_CHOICES:
            print(f"invalid: inherited access {inherited['access']!r} "
                  "(project.yml models hierarchy) is not one of "
                  f"{sorted(ACCESS_CHOICES)}")
            return 1
        for key in ("group", "access"):
            if inherited[key] and not getattr(args, key):
                print(f"inheriting {key} {inherited[key]!r} from "
                      "project.yml (models hierarchy)")
    _governance_wizard(args, gov, inherited=inherited)
    if not args.description and not getattr(args, "quick", False):
        # reference select_description (create.py:126-130): prompt for a
        # missing description on a TTY; the same non-TTY gating as the
        # governance wizard (flag-driven runs keep the empty default).
        # First letter upper-cased — deliberately NOT str.capitalize()
        # like the reference, which lowercases the rest and mangles
        # acronyms/proper nouns ('Keeps GDP...' -> 'Keeps gdp...')
        if sys.stdin.isatty():
            from dbtwiz_spark.picker import description_validator, input_text

            typed = input_text(
                "Give a short description of your model and its purpose",
                validate=description_validator(),
            )
            if typed:
                args.description = typed[0].upper() + typed[1:]
    cfg: dict = {"materialized": args.materialized, "description": args.description or ""}
    if args.materialized == "incremental":
        cfg.update(
            incremental_strategy="insert_overwrite",
            partition_by=args.partition_by or "partitiondate",
            require_partition_filter=True,
        )
        if args.expiration_days:
            cfg["partition_expiration_days"] = args.expiration_days
    elif args.expiration_days:
        # reference parity (create.py:254-261): expiration applies only to
        # incremental materializations
        print("ignoring --expiration-days: model is not incremental")
    if args.unique_key:
        cfg["unique_key"] = args.unique_key
    if args.cluster_by:
        cfg["cluster_by"] = args.cluster_by.split(",")
    if args.access:
        cfg["access"] = args.access
    if args.group:
        cfg["group"] = args.group
    if args.frequency:
        if args.frequency not in FREQUENCY_CHOICES:
            print(f"invalid --frequency {args.frequency!r} "
                  f"(choose from {sorted(FREQUENCY_CHOICES)})")
            return 1
        if args.materialized == "view":
            # create.py:303-316: frequency is meaningless for views
            print("ignoring --frequency: not applicable to views")
        else:
            cfg["tags"] = [args.frequency]
    meta: dict = {}
    if args.team:
        meta["teams"] = list(args.team)
    if args.access_policy:
        meta["access-policy"] = args.access_policy
    if args.service_consumer:
        meta["service-consumers"] = list(args.service_consumer)
    if meta:
        cfg["meta"] = meta

    errors = validate_governance(
        Model(name=name, sql="", group=cfg.get("group"),
              access=cfg.get("access"), meta=meta),
        gov,
    )
    if errors:
        for e in errors:
            print(f"invalid: {e}")
        return 1

    models.mkdir(parents=True, exist_ok=True)
    sql_path.write_text(_MODEL_SQL_TEMPLATE.format(parent=args.parent or "upstream"))
    sql_path.with_suffix(".yml").write_text(_yaml.safe_dump(cfg, sort_keys=False))
    print(f"created {sql_path} + {sql_path.with_suffix('.yml').name}")
    return 0


def cmd_model_validate(args) -> int:
    """Reconcile declared YAML columns against the built table's live schema
    (dbtwiz/model/validate.py:97-108 fetch, :188-214 reconcile: removed
    columns dropped, new columns added from the warehouse). --fix rewrites
    the sidecar, preserving descriptions of surviving columns. Also checks
    each model's governance keys (group/access/meta teams) against the
    project vocabulary — the validation the reference wizard applies at
    create time (dbtwiz/model/create.py:132-230), re-run here so sidecars
    edited by hand are caught too."""
    import yaml as _yaml
    from pathlib import Path

    from dbtwiz_spark.project import (
        load_governance,
        validate_governance,
        validate_name_conventions,
    )
    from dbtwiz_spark.types import spark_type_to_sql

    _, manifest, wh = _load(args)
    gov = load_governance(args.project)
    rc = 0
    selected = set(manifest.select(args.select))
    # layered-layout naming convention (reference model/validate.py:240-270:
    # <abbr>_<domain>__<identifier> must agree with the folders) — scoped
    # to --select so one legacy misnamed model can't fail every scoped
    # CI validation of unrelated models
    for name, err in validate_name_conventions(args.project):
        if name not in selected:
            continue
        rc = 1
        print(f"NAMING {name}: {err}")
    for name in sorted(selected):
        m = manifest.models[name]
        gov_errors = validate_governance(m, gov)
        if gov_errors:
            rc = 1
            for e in gov_errors:
                print(f"GOVERNANCE {name}: {e}")
        if not wh.exists(name):
            continue
        actual = {
            f.name: spark_type_to_sql(f.dataType) for f in wh.read(name).schema.fields
        }
        declared = {c["name"]: c.get("data_type") for c in m.columns}
        missing = sorted(set(actual) - set(declared))
        removed = sorted(set(declared) - set(actual))
        retyped = sorted(
            c for c in set(actual) & set(declared)
            if declared[c] and declared[c] != actual[c]
        )
        if not (missing or removed or retyped):
            print(f"pass {name}: {len(actual)} columns in sync")
            continue
        print(f"DRIFT {name}: +{missing} -{removed} ~{retyped}")
        if not args.fix:
            # rc may already be 1 from a naming/governance finding —
            # a later fixed drift must never reset it back to 0
            rc = 1
        if args.fix:
            keep_desc = {
                c["name"]: c.get("description", "") for c in m.columns
            }
            # the sidecar lives NEXT TO the model's .sql, which may be in a
            # subdirectory — writing models/<name>.yml for a nested model
            # would leave a stray file and the real sidecar untouched
            sql_path = next(
                (Path(args.project) / "models").rglob(f"{name}.sql"), None
            )
            sidecar = (
                sql_path.with_suffix(".yml")
                if sql_path is not None
                else Path(args.project) / "models" / f"{name}.yml"
            )
            raw = _yaml.safe_load(sidecar.read_text()) if sidecar.exists() else {}
            raw = raw or {}
            raw["columns"] = [
                {"name": col, "data_type": dt,
                 "description": keep_desc.get(col, "")}
                for col, dt in actual.items()
            ]
            from dbtwiz_spark.fsutil import atomic_rewrite_text

            atomic_rewrite_text(sidecar, _yaml.safe_dump(raw, sort_keys=False))
            print(f"  fixed {sidecar.name}")
    return rc


def cmd_model_move(args) -> int:
    """Move/rename a model with ref rewriting (dbtwiz/model/__init__.py:273,
    dbtwiz/model/move.py move_model): new copy, old becomes a pass-through
    view (safe mode), dependents' ref() calls rewritten."""
    from dbtwiz_spark.model_ops import move_model

    res = move_model(
        args.project,
        args.old_name,
        args.new_name,
        new_subdir=args.folder,
        safe=not args.hard,
        update_references=not args.no_update_refs,
    )
    print(f"moved {args.old_name} -> {res.new_sql}")
    if res.old_kept_as_view:
        print(f"kept {res.old_sql.name} as a view over {args.new_name}")
    for dep in res.rewritten:
        print(f"rewrote ref() in {dep}")
    return 0


def cmd_model_convert(args) -> int:
    """Rewrite raw table references in a model's SQL to ref()/source()
    calls against the project manifest (dbtwiz/model/validate.py:310-346
    convert_sql_to_model — the step that turns console SQL into a model).
    Unresolved qualified references exit 1 so CI catches them."""
    from dbtwiz_spark.model_ops import convert_sql_refs

    res = convert_sql_refs(args.project, args.name)
    for raw, new in res.replaced:
        print(f"replaced {raw} -> {new}")
    if not res.changed and not res.unresolved:
        print("references ok")
    for raw in res.unresolved:
        print(f"unresolved: {raw} (not a known model/source — may be "
              "intentional)")
    return 1 if res.unresolved else 0


def cmd_model_inspect(args) -> int:
    """Per-model DAG inspection: config, direct parents, full ancestor and
    descendant closures (dbtwiz/model/__init__.py:210 `inspect`,
    model/inspect.py: prints ancestors/descendants lists)."""
    from dbtwiz_spark.project import load_project

    manifest, _ = load_project(args.project)
    name = args.name
    if name not in manifest.models:
        print(f"unknown model: {name}")
        return 1
    m = manifest.models[name]
    print(f"Model: {name}")
    print(f"  materialized: {m.materialized}")
    if m.partition_by:
        print(f"  partition_by: {m.partition_by}")
    if m.unique_key:
        print(f"  unique_key: {m.unique_key}")
    if m.tags:
        print(f"  tags: {', '.join(m.tags)}")
    if m.description:
        print(f"  description: {m.description}")
    print("Ancestors:")
    for a in manifest.topo_order(manifest.upstream(name)):
        print(f"- {a}")
    print("Descendants:")
    for d in manifest.topo_order(manifest.downstream(name)):
        print(f"- {d}")
    return 0


def cmd_model_lint(args) -> int:
    """Deterministic SQL lint (dbtwiz/model/__init__.py:165 `lint`):
    keyword case, whitespace hygiene, missing-alias check. Selection by
    explicit model names and/or --staged mirrors the reference
    (dbtwiz/model/format.py:16-24)."""
    from dbtwiz_spark.model_ops import lint_project

    try:
        offenders = lint_project(args.project, names=args.models,
                                 staged=args.staged)
    except ValueError as e:
        print(f"error: {e}")
        return 2
    for name, findings in offenders.items():
        for f in findings:
            print(f"{name}.sql:{f.line}: {f.code} {f.message}")
    if offenders:
        print(f"{sum(len(v) for v in offenders.values())} finding(s) "
              f"in {len(offenders)} model(s)")
        return 1
    print("lint clean")
    return 0


def cmd_model_fix(args) -> int:
    """Apply the auto-fixable lint rules in place
    (dbtwiz/model/__init__.py:237 `fix`); same name/--staged selection
    as lint."""
    from dbtwiz_spark.model_ops import fix_project

    try:
        changed = fix_project(args.project, names=args.models,
                              staged=args.staged)
    except ValueError as e:
        print(f"error: {e}")
        return 2
    for name in changed:
        print(f"fixed {name}.sql")
    print(f"{len(changed)} model(s) rewritten")
    return 0


def cmd_source_create(args) -> int:
    """Register an external parquet as a source with introspected columns
    (dbtwiz/source/create.py:326-404: fetch schema, write source YAML).
    The name must satisfy the reference's identifier convention
    (ui/interact.py:8-14 name_validator — the interactive flow there
    validates at prompt time; this flag-driven flow validates the flag);
    on a TTY a missing description is prompted for and the write is
    confirmed (create.py:149/:396), non-TTY runs stay flag-driven."""
    import yaml as _yaml
    from pathlib import Path

    from dbtwiz_spark.picker import (
        confirm,
        description_validator,
        input_text,
        name_validator,
    )
    from dbtwiz_spark.types import spark_type_to_sql

    verdict = name_validator()(args.name)
    if verdict is not True:
        print(f"invalid source name {args.name!r}: {verdict}")
        return 1
    schema = _spark().read.parquet(args.path).schema
    src_file = Path(args.project) / "sources.yml"
    spec = _yaml.safe_load(src_file.read_text()) if src_file.exists() else None
    spec = spec or {"sources": []}
    if any(s["name"] == args.name for s in spec["sources"]):
        print(f"source {args.name} already declared")
        return 1
    if sys.stdin.isatty():
        if not args.description:
            args.description = input_text(
                "Give a short description of the source",
                validate=description_validator(),
                allow_blank=True,
            )
        if not confirm(
            f"Declare source {args.name} "
            f"({len(schema.fields)} columns from {args.path})?"
        ):
            print("cancelled")
            return 1
    spec["sources"].append(
        {
            "name": args.name,
            "path": args.path,
            "description": args.description or "",
            "columns": [
                {"name": f.name, "data_type": spark_type_to_sql(f.dataType)}
                for f in schema.fields
            ],
        }
    )
    src_file.write_text(_yaml.safe_dump(spec, sort_keys=False))
    print(f"declared source {args.name} ({len(schema.fields)} columns)")
    return 0


def cmd_config(args) -> int:
    """Update (or list) user configuration settings — the reference's
    ``dbtwiz config <setting> <value>`` (docs/config.md;
    dbtwiz/config/user.py:38-146 typed validation)."""
    from dbtwiz_spark import userconfig

    if args.check:
        problems = userconfig.check_strict()
        for msg in problems:
            print(f"error: {msg}")
        if not problems:
            print(f"config OK ({userconfig.config_path()})")
        return 1 if problems else 0
    if args.setting is None:
        for name, value, help_text in userconfig.describe():
            print(f"{name} = {value!r}\n    {help_text}")
        return 0
    if args.value is None:
        cfg = userconfig.load_user_config()
        if args.setting not in userconfig.spec_names():
            print(f"unknown setting {args.setting!r}; "
                  f"valid: {userconfig.spec_names()}")
            return 1
        print(getattr(cfg, args.setting))
        return 0
    try:
        _, path = userconfig.update_setting(args.setting, args.value)
    except (KeyError, ValueError) as e:
        print(f"error: {e}")
        return 1
    print(f"set {args.setting} = {args.value} -> {path}")
    return 0


def _positive_int(text: str) -> int:
    """argparse type of a count that must be at least 1."""
    n = int(text)
    if n < 1:
        raise argparse.ArgumentTypeError(f"must be at least 1, got {n}")
    return n


def _iso_date(text: str) -> date:
    """argparse type of a calendar date (YYYY-MM-DD): a bad date is a
    usage error before any session starts, not a traceback after."""
    try:
        return date.fromisoformat(text)
    except ValueError as e:
        raise argparse.ArgumentTypeError(
            f"must be a YYYY-MM-DD date, got {text!r} ({e})"
        ) from None


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="dbtwiz_spark")
    sub = p.add_subparsers(dest="command", required=True)

    def common(sp, warehouse=True):
        sp.add_argument("--project", required=True)
        if warehouse:
            sp.add_argument("--warehouse",
                            help="warehouse root path (or use --target)")
            sp.add_argument("--target", "-t",
                            help="named environment from project.yml "
                                 "'targets:' (resolves the warehouse; "
                                 "reference dev/build/prod targets)")
        sp.add_argument("--select", default="*")
        sp.add_argument("--exclude", help="selector subtracted from --select")
        sp.add_argument("--vars", help="JSON dict of variable overrides")

    b = sub.add_parser("build", help="render + materialize selected models")
    common(b)
    b.add_argument("--start", help="data_interval_start (ISO date)")
    b.add_argument("--end", help="data_interval_end (ISO date)")
    b.add_argument("--state", help="fingerprint state file for state:modified")
    b.add_argument("--defer-target",
                   help="read unbuilt parents from this target's warehouse "
                        "(dbt --defer: dev builds of modified models read "
                        "untouched parents from prod)")
    b.add_argument("--last", action="store_true",
                   help="replay the previous --select/--exclude")
    b.add_argument("--threads", type=_positive_int, default=1,
                   help="run up to this many independent models at once "
                        "(dbt --threads)")
    b.add_argument("--full-refresh", "-f", action="store_true",
                   dest="full_refresh",
                   help="drop and recreate incremental tables from this "
                        "run's output (schema-change recovery)")
    b.add_argument("--upstream", "-u", action="store_true",
                   help="also build upstream dependencies (prepends '+')")
    b.add_argument("--downstream", "-d", action="store_true",
                   help="also build downstream dependents (appends '+')")
    b.add_argument("--retry-failed", action="store_true", dest="retry_failed",
                   help="re-run the models that errored or were skipped in "
                        "the previous invocation (dbt retry)")
    b.add_argument("--fail-fast", action="store_true", dest="fail_fast",
                   help="stop scheduling after the first model error "
                        "(in-flight models finish; the rest report skipped)")
    b.add_argument("--work", "-w", action="store_true",
                   help="restrict to models with local git changes "
                        "(new/modified .sql under models/); a selector "
                        "further filters that set")
    b.set_defaults(fn=cmd_build)

    ex = sub.add_parser("explain", help="compile a model and audit its plan")
    ex.add_argument("name")
    ex.add_argument("--project", default=".")
    ex.add_argument("--warehouse", default="spark-warehouse")
    ex.add_argument("--vars", default=None)
    ex.add_argument("--start", default=None)
    ex.add_argument("--end", default=None)
    ex.add_argument("--sql", action="store_true", help="also print compiled SQL")
    ex.set_defaults(fn=cmd_explain)

    t = sub.add_parser("test", help="model checks (pk uniqueness)")
    common(t)
    t.add_argument("--date", type=_iso_date, default=None,
                   help="check only this date's partition (YYYY-MM-DD)")
    t.set_defaults(fn=cmd_test)

    m = sub.add_parser("manifest", help="print the model DAG")
    m.add_argument("--project", required=True)
    m.add_argument("--select", default="*")
    m.add_argument("--save-state", help="write fingerprints for state:modified")
    m.add_argument("--format", choices=["json", "dot"], default="json",
                   help="json (default) or a Graphviz dot lineage graph")
    m.set_defaults(fn=cmd_manifest)

    bf = sub.add_parser("backfill", help="date-chunked re-run of a model range")
    common(bf)
    bf.add_argument("--first", type=_iso_date, default=None,
                    help="range start (required unless --task-ranges)")
    bf.add_argument("--last", type=_iso_date, default=None,
                    help="range end (required unless --task-ranges)")
    bf.add_argument("--batch-days", type=int, default=None)
    bf.add_argument("--task-index", type=int, default=None,
                    help="this worker's shard (defaults to "
                         "$CLOUD_RUN_TASK_INDEX when --task-count or "
                         "--task-ranges is set)")
    bf.add_argument("--task-count", type=int, default=None,
                    help="shard the chunks across N parallel workers: "
                         "worker i owns the chunks whose batch slot from "
                         "--first is i modulo N, so a --retry pass reruns "
                         "each failed chunk on exactly one worker")
    bf.add_argument("--task-ranges", default=None,
                    help="explicit per-task ranges "
                         "'YYYY-MM-DD:YYYY-MM-DD,...'; worker --task-index "
                         "(or $CLOUD_RUN_TASK_INDEX) runs the N-th range, "
                         "and retries the failed chunks that start in it "
                         "(mutually exclusive with --first/--last)")
    bf.add_argument("--journal", help="journal file; enables retry bookkeeping")
    bf.add_argument("--retry", action="store_true", help="re-run failed chunks only")
    bf.add_argument(
        "--parallel-safe", action="store_true",
        help="model does not depend on its own past data (continue past failures)",
    )
    bf.set_defaults(fn=cmd_backfill)

    admin = sub.add_parser("admin", help="warehouse administration")
    asub = admin.add_subparsers(dest="admin_command", required=True)

    o = asub.add_parser("orphaned", help="tables in warehouse but not manifest")
    common(o)
    o.add_argument("--delete", action="store_true")
    o.set_defaults(fn=cmd_orphaned)

    c = asub.add_parser("cleandev", help="drop every table in a dev warehouse")
    c.add_argument("--warehouse", required=True)
    c.add_argument("--force", action="store_true")
    c.set_defaults(fn=cmd_cleandev)

    pe = asub.add_parser("partition-expiry", help="declared vs live partition expiry")
    common(pe)
    pe.add_argument("--apply", action="store_true")
    pe.set_defaults(fn=cmd_partition_expiry)

    r = asub.add_parser("restore", help="time-travel restore from snapshot")
    r.add_argument("--warehouse", required=True)
    r.add_argument("--table", required=True)
    r.add_argument("--at-ms", type=int, required=True)
    r.set_defaults(fn=cmd_restore)

    cp = asub.add_parser("compact", help="rewrite fragmented small-file partitions")
    cp.add_argument("--warehouse", required=True)
    cp.add_argument("--table", required=True)
    cp.add_argument("--target-mb", type=int, default=128)
    cp.add_argument("--min-files", type=int, default=2)
    cp.set_defaults(fn=cmd_compact)

    es = asub.add_parser("expire-snapshots",
                         help="GC time-travel snapshots past retention")
    es.add_argument("--warehouse", required=True)
    es.add_argument("--table", default=None,
                    help="one table (default: every table in the warehouse)")
    es.add_argument("--older-than-days", type=int, default=None,
                    help="retention window (default: the engine's "
                         "time-travel window)")
    es.set_defaults(fn=cmd_expire_snapshots)

    sd = asub.add_parser("sync-descriptions", help="declared vs stored descriptions")
    common(sd)
    sd.set_defaults(fn=cmd_sync_descriptions)

    ug = asub.add_parser("update-grants", help="reconcile declarative ACLs")
    common(ug)
    ug.set_defaults(fn=cmd_update_grants)

    uc = asub.add_parser("update-clustering", help="re-cluster tables to spec")
    common(uc)
    uc.set_defaults(fn=cmd_update_clustering)

    model = sub.add_parser("model", help="model scaffolding")
    msub = model.add_subparsers(dest="model_command", required=True)
    mc = msub.add_parser("create", help="scaffold model .sql + .yml")
    mc.add_argument("--project", required=True)
    mc.add_argument("--name", required=True)
    mc.add_argument("--materialized", default="view",
                    choices=["view", "table", "incremental", "scd2", "ephemeral"])
    mc.add_argument("--parent", help="upstream model/source for the template ref()")
    mc.add_argument("--partition-by")
    mc.add_argument("--unique-key")
    mc.add_argument("--cluster-by", help="comma-separated columns")
    mc.add_argument("--description")
    mc.add_argument("--force", action="store_true")
    mc.add_argument("--group", help="model group (models/model_groups.yml)")
    mc.add_argument("--access", choices=["private", "protected", "public"])
    mc.add_argument("--team", action="append", default=[],
                    help="responsible team (project.yml vars.teams)")
    mc.add_argument("--service-consumer", action="append", default=[],
                    help="service consumer needing access (repeatable)")
    mc.add_argument("--access-policy",
                    help="access policy (project.yml vars.access-policies)")
    mc.add_argument("--frequency", help="update frequency tag (hourly|daily)")
    mc.add_argument("--expiration-days", type=int,
                    help="partition expiration (incremental only)")
    mc.add_argument("--quick", action="store_true",
                    help="skip interactive prompts for missing governance values")
    mc.add_argument("--layer",
                    help="layered layout: staging|intermediate|marts|bespoke "
                         "(overridable via project.yml layers:)")
    mc.add_argument("--domain", help="domain folder under the layer")
    mc.set_defaults(fn=cmd_model_create)

    mm = msub.add_parser("move", help="move/rename a model, rewrite refs")
    mm.add_argument("old_name")
    mm.add_argument("new_name")
    mm.add_argument("--project", default=".")
    mm.add_argument("--folder", default=None, help="new subdir under models/")
    mm.add_argument("--hard", action="store_true",
                    help="delete the old model instead of leaving a view")
    mm.add_argument("--no-update-refs", action="store_true")
    mm.set_defaults(fn=cmd_model_move)

    mcv = msub.add_parser("convert",
                          help="rewrite raw table refs to ref()/source()")
    mcv.add_argument("name")
    mcv.add_argument("--project", default=".")
    mcv.set_defaults(fn=cmd_model_convert)

    mi = msub.add_parser("inspect", help="per-model config + ancestors/descendants")
    mi.add_argument("name")
    mi.add_argument("--project", default=".")
    mi.set_defaults(fn=cmd_model_inspect)

    ml = msub.add_parser("lint", help="deterministic SQL lint")
    ml.add_argument("--project", default=".")
    ml.add_argument("models", nargs="*",
                    help="specific model names (default: whole project)")
    ml.add_argument("--staged", "-s", action="store_true",
                    help="also lint git-staged model .sql files")
    ml.set_defaults(fn=cmd_model_lint)

    mf = msub.add_parser("fix", help="apply auto-fixable lint rules")
    mf.add_argument("--project", default=".")
    mf.add_argument("models", nargs="*",
                    help="specific model names (default: whole project)")
    mf.add_argument("--staged", "-s", action="store_true",
                    help="also fix git-staged model .sql files")
    mf.set_defaults(fn=cmd_model_fix)

    mv = msub.add_parser("validate", help="declared columns vs live schema")
    common(mv)
    mv.add_argument("--fix", action="store_true",
                    help="rewrite sidecar columns from the live schema")
    mv.set_defaults(fn=cmd_model_validate)

    source = sub.add_parser("source", help="source declarations")
    ssub = source.add_subparsers(dest="source_command", required=True)
    sc = ssub.add_parser("create", help="declare parquet source w/ introspected schema")
    sc.add_argument("--project", required=True)
    sc.add_argument("--name", required=True)
    sc.add_argument("--path", required=True)
    sc.add_argument("--description")
    sc.set_defaults(fn=cmd_source_create)

    cfg = sub.add_parser(
        "config", help="update a user configuration setting (config.toml)"
    )
    cfg.add_argument("setting", nargs="?", help="setting name; omit to list all")
    cfg.add_argument("value", nargs="?", help="new value")
    cfg.add_argument("--check", action="store_true",
                     help="strictly validate config.toml and report problems")
    cfg.set_defaults(fn=cmd_config)

    f = asub.add_parser("freshness", help="max(loaded_at) vs watermark")
    f.add_argument("--warehouse", default="spark-warehouse")
    f.add_argument("--table", default=None)
    f.add_argument("--column", default=None)
    f.add_argument("--max-age-hours", type=float, default=None)
    f.add_argument("--sources", action="store_true",
                   help="sweep every source with a freshness: block")
    f.add_argument("--project", default=".")
    f.set_defaults(fn=cmd_freshness)

    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    from dbtwiz_spark.project import ProjectError

    try:
        return args.fn(args)
    except (CliError, ProjectError) as e:
        print(f"error: {e}")
        return 1


if __name__ == "__main__":
    sys.exit(main())
