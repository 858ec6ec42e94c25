"""Model file operations: move/rename with ref rewriting, lint, fix.

Reference surface:
- ``model move`` (dbtwiz/model/__init__.py:273, dbtwiz/model/move.py):
  copy the model to its new name/location; in safe mode the old model
  becomes a view selecting from the new one; optionally rewrite every
  dependent's ``ref()`` to the new name.
- ``model lint`` / ``model fix`` (dbtwiz/model/__init__.py:165,237): the
  reference shells out to sqlfmt/sqlfluff; the engine ships a deterministic
  built-in normalizer instead (keyword case, whitespace hygiene,
  missing-alias detection) so the command works with zero external tools.

All operations are pure text/filesystem work on the project tree — no Spark
session involved.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from pathlib import Path

from dbtwiz_spark.macros import extract_refs
from dbtwiz_spark.fsutil import atomic_rewrite_text

# ---------------------------------------------------------------------------
# model move
# ---------------------------------------------------------------------------


@dataclass
class MoveResult:
    old_sql: Path
    new_sql: Path
    rewritten: list[str]  # model names whose refs were updated
    old_kept_as_view: bool


def _ref_call_re(name: str) -> re.Pattern:
    return re.compile(r"(\{\{\s*ref\(\s*['\"])" + re.escape(name) + r"(['\"]\s*\)\s*\}\})")


def move_model(
    project_root: str | Path,
    old_name: str,
    new_name: str,
    new_subdir: str | None = None,
    safe: bool = True,
    update_references: bool = True,
) -> MoveResult:
    """Move/rename a model inside ``project_root/models``.

    1. copy the SQL (and YAML sidecar) to the new name/location;
    2. safe mode: the old file becomes a pass-through view
       ``SELECT * FROM {{ ref('<new>') }}`` (sidecar forced to
       ``materialized: view``) so downstream readers keep working during the
       transition; otherwise the old files are deleted;
    3. ``update_references``: rewrite ``ref('<old>')`` → ``ref('<new>')`` in
       every other model (static rewrite of the same call sites
       ``macros.extract_refs`` parses — DAG membership is unchanged except
       for the renamed node).
    """
    root = Path(project_root)
    models_dir = root / "models"
    old_sql = next(models_dir.rglob(f"{old_name}.sql"), None)
    if old_sql is None:
        raise FileNotFoundError(f"model {old_name!r} not found under {models_dir}")
    target_dir = models_dir / new_subdir if new_subdir else old_sql.parent
    target_dir.mkdir(parents=True, exist_ok=True)
    new_sql = target_dir / f"{new_name}.sql"
    old_yml = old_sql.with_suffix(".yml")

    if old_name == new_name:
        # pure folder move: model names are keyed by file stem, so a
        # same-name "safe" copy would create a duplicate stem AND a
        # self-referential view — just relocate the files instead
        if new_sql.resolve() == old_sql.resolve():
            raise ValueError(f"model {old_name!r} is already at {new_sql}")
        old_sql.rename(new_sql)
        if old_yml.exists():
            old_yml.rename(new_sql.with_suffix(".yml"))
        return MoveResult(old_sql, new_sql, [], old_kept_as_view=False)

    if new_sql.exists():
        raise FileExistsError(f"model {new_name!r} already exists at {new_sql}")

    atomic_rewrite_text(new_sql, old_sql.read_text())
    if old_yml.exists():
        atomic_rewrite_text(new_sql.with_suffix(".yml"), old_yml.read_text())

    rewritten: list[str] = []
    if update_references:
        pat = _ref_call_re(old_name)
        for sql_path in sorted(models_dir.rglob("*.sql")):
            if sql_path in (old_sql, new_sql):
                continue
            text = sql_path.read_text()
            if old_name in extract_refs(text):
                atomic_rewrite_text(sql_path, pat.sub(r"\g<1>" + new_name + r"\g<2>", text))
                rewritten.append(sql_path.stem)

    if safe:
        atomic_rewrite_text(
            old_sql,
            "-- moved to " + new_name + " (kept as a pass-through view)\n"
            "SELECT * FROM {{ ref('" + new_name + "') }}\n",
        )
        # The stub must materialize as a view, but the rest of the sidecar
        # (column descriptions, data tests, ...) still applies to the
        # pass-through and must not be silently discarded. Keys that only
        # drive table/incremental materialization are dropped — with a
        # notice, since that IS a config change.
        import yaml

        cfg = {}
        if old_yml.exists():
            cfg = yaml.safe_load(old_yml.read_text()) or {}
        dropped = sorted(
            k
            for k in ("unique_key", "partition_by", "cluster_by", "incremental_strategy")
            if cfg.pop(k, None) is not None
        )
        cfg["materialized"] = "view"
        atomic_rewrite_text(old_yml, yaml.safe_dump(cfg, sort_keys=False))
        if dropped:
            print(
                f"[move] {old_name}: dropped table-materialization config "
                f"{dropped} from the pass-through view's sidecar"
            )
    else:
        old_sql.unlink()
        if old_yml.exists():
            old_yml.unlink()

    return MoveResult(old_sql, new_sql, rewritten, old_kept_as_view=safe)


# ---------------------------------------------------------------------------
# model lint / fix
# ---------------------------------------------------------------------------

_KEYWORDS = (
    "select distinct from where group by having order limit join inner left "
    "right full outer cross on as and or not in is null like between case "
    "when then else end union all with insert into values create view table "
    "over partition rows range preceding following current row cast exists "
    "asc desc"
).split()
_KW_RE = re.compile(
    r"\b(" + "|".join(sorted(_KEYWORDS, key=len, reverse=True)) + r")\b",
    re.IGNORECASE,
)
# text regions the normalizer must never touch
_PROTECTED_RE = re.compile(
    r"""('(?:[^'\\]|\\.)*'        # single-quoted string literals
      | "(?:[^"\\]|\\.)*"         # double-quoted identifiers
      | \{\{.*?\}\}               # jinja expressions
      | \{%.*?%\}                 # jinja statements
      | --[^\n]*                  # line comments
      | /\*.*?\*/                 # block comments
      )""",
    re.VERBOSE | re.DOTALL,
)


@dataclass
class LintFinding:
    line: int
    code: str
    message: str


def lint_sql(sql: str) -> list[LintFinding]:
    """Deterministic lint pass; every finding is either auto-fixable by
    ``fix_sql`` (case/whitespace) or a structural warning (missing alias)."""
    findings: list[LintFinding] = []
    protected = [m.span() for m in _PROTECTED_RE.finditer(sql)]

    def in_protected(pos: int) -> bool:
        return any(a <= pos < b for a, b in protected)

    offset = 0
    for i, line in enumerate(sql.split("\n"), start=1):
        if line != line.rstrip() and not in_protected(offset + len(line) - 1):
            findings.append(LintFinding(i, "W001", "trailing whitespace"))
        tab_at = line.find("\t")
        if tab_at >= 0 and not in_protected(offset + tab_at):
            findings.append(LintFinding(i, "W002", "tab character (use spaces)"))
        for m in _KW_RE.finditer(line):
            if not in_protected(offset + m.start()) and m.group(0) != m.group(0).upper():
                findings.append(
                    LintFinding(i, "W003", f"keyword not uppercase: {m.group(0)!r}")
                )
                break  # one per line keeps output readable
        offset += len(line) + 1
    # missing alias on computed select items: inspect the select list only
    for i, line in enumerate(sql.split("\n"), start=1):
        bare = _PROTECTED_RE.sub("", line).strip().rstrip(",")
        if not bare or bare.upper().startswith(("FROM", "WHERE", "GROUP", "ORDER", "--")):
            continue
        if (
            "(" in bare
            and bare.endswith(")")
            and " AS " not in bare.upper()
            and not bare.upper().startswith(("SELECT", "OVER", "WHEN", "AND", "OR"))
        ):
            findings.append(
                LintFinding(i, "W101", "computed expression without AS alias")
            )
    if sql and not sql.endswith("\n"):
        findings.append(LintFinding(sql.count("\n") + 1, "W004", "missing final newline"))
    return findings


def fix_sql(sql: str) -> str:
    """Apply the auto-fixable subset of the lint rules, never touching
    string literals, quoted identifiers, comments, or Jinja blocks.
    Idempotent: fix_sql(fix_sql(s)) == fix_sql(s)."""
    def _norm(segment: str) -> str:
        # keyword case + tab expansion, applied ONLY outside protected
        # regions (a tab inside a string literal is data, not indentation)
        return _KW_RE.sub(lambda k: k.group(0).upper(), segment).replace("\t", "    ")

    out: list[str] = []
    last = 0
    for m in _PROTECTED_RE.finditer(sql):
        out.append(_norm(sql[last : m.start()]))
        out.append(m.group(0))
        last = m.end()
    out.append(_norm(sql[last:]))
    text = "".join(out)
    # line hygiene must not reach inside a protected region either: a
    # multi-line string literal may legitimately contain trailing spaces or
    # blank lines. A line is eligible for rstrip / blank-collapse only when
    # its terminating newline is OUTSIDE every protected span (a literal
    # ending at line end closes with a quote, so trailing whitespace after
    # a span is always unprotected).
    spans = [m.span() for m in _PROTECTED_RE.finditer(text)]

    def _protected(pos: int) -> bool:
        return any(a <= pos < b for a, b in spans)

    # split on \n ONLY: splitlines() also breaks on \r / unicode separators,
    # which would corrupt string literals containing them (CRLF endings
    # still normalize, since the trailing \r is stripped as whitespace)
    cleaned: list[str] = []
    pos = 0
    for ln in text.split("\n"):
        nl = pos + len(ln)  # index of this line's newline (or EOF)
        editable = nl >= len(text) or not _protected(nl)
        if editable:
            ln = ln.rstrip()
            if ln == "" and cleaned and cleaned[-1] == "":
                pos = nl + 1
                continue  # collapse runs of blank lines to one
        cleaned.append(ln)
        pos = nl + 1
    return "\n".join(cleaned).rstrip("\n") + "\n"


def _git_model_records(project_root: str | Path, *git_args: str):
    r"""Run ``git -C <project_root> <git_args> -z`` for the model selectors
    and return ``(records, model_file)``: the NUL-separated output records
    and a resolver mapping a path git printed to its model .sql file under
    ``models/``, or None when it is not one. ``([], None)`` outside a git
    work tree (new projects are usable before ``git init``).

    -z: NUL-separated records with NO C-style quoting — plain output
    octal-escapes non-ASCII paths ("caf\303\251.sql"), which would fail
    the exists() check and silently drop the model. Git prints paths
    relative to the repo top-level, which may sit above project_root, so
    they resolve against the top-level and nested projects work."""
    import subprocess

    root = Path(project_root)
    proc = subprocess.run(
        ["git", "-C", str(root), *git_args, "-z"], capture_output=True, text=True
    )
    if proc.returncode != 0:
        return [], None
    top = subprocess.run(
        ["git", "-C", str(root), "rev-parse", "--show-toplevel"],
        capture_output=True, text=True,
    ).stdout.strip()
    base = Path(top) if top else root
    models_dir = root.joinpath("models").resolve()

    def model_file(path: str) -> Path | None:
        p = (base / path).resolve()
        if p.suffix == ".sql" and p.exists() and p.is_relative_to(models_dir):
            return p
        return None

    return proc.stdout.split("\0"), model_file


def staged_model_files(project_root: str | Path) -> list[Path]:
    """Git-staged (added/modified) model .sql files under ``models/``.

    Parity with the reference's ``--staged`` selection for lint/fix
    (dbtwiz/model/__init__.py:165,237 + dbtwiz/utils/git.py:8
    ``get_staged_files``): the reference parses ``git status --short``;
    here ``git diff --cached --name-only --diff-filter=AM`` gives the same
    staged add/modify set directly. Returns [] when the project is not a
    git work tree."""
    records, model_file = _git_model_records(
        project_root, "diff", "--cached", "--name-only", "--diff-filter=AM"
    )
    found = (model_file(r) for r in records if r)
    return sorted(p for p in found if p is not None)


def _select_model_files(
    project_root: str | Path,
    names: list[str] | None = None,
    staged: bool = False,
) -> list[Path]:
    """Model .sql files selected by explicit names and/or git-staged status;
    with neither selector, the whole project (reference lint/fix combine the
    two selections with set-union, dbtwiz/model/format.py:16-24)."""
    root = Path(project_root)
    if not names and not staged:
        return sorted(root.joinpath("models").rglob("*.sql"))
    selected: set[Path] = set(staged_model_files(root)) if staged else set()
    for name in names or []:
        matches = list(root.joinpath("models").rglob(f"{name}.sql"))
        if not matches:
            # a typo'd name silently matching nothing would report
            # "lint clean" / exit 0 for a model that was never checked
            raise ValueError(f"no model file named {name!r} under models/")
        selected.update(matches)
    return sorted(selected)


def lint_project(
    project_root: str | Path,
    names: list[str] | None = None,
    staged: bool = False,
) -> dict[str, list[LintFinding]]:
    """Lint selected models (default: all); returns {model_name: findings}
    for offenders only."""
    out: dict[str, list[LintFinding]] = {}
    for sql_path in _select_model_files(project_root, names, staged):
        findings = lint_sql(sql_path.read_text())
        if findings:
            out[sql_path.stem] = findings
    return out


def fix_project(
    project_root: str | Path,
    names: list[str] | None = None,
    staged: bool = False,
) -> list[str]:
    """Rewrite selected models (default: all) whose normalized form differs;
    returns the list of changed model names."""
    changed: list[str] = []
    for sql_path in _select_model_files(project_root, names, staged):
        original = sql_path.read_text()
        fixed = fix_sql(original)
        if fixed != original:
            atomic_rewrite_text(sql_path, fixed)
            changed.append(sql_path.stem)
    return changed


# ---------------------------------------------------------------------------
# model convert — raw SQL → ref()/source() calls
# ---------------------------------------------------------------------------


@dataclass
class ConvertResult:
    path: Path
    replaced: list[tuple[str, str]]  # (raw reference, replacement)
    unresolved: list[str]
    changed: bool


_FROM_JOIN_RE = re.compile(
    r"\b(FROM|JOIN)(\s+)(`[^`]+`|[A-Za-z_][\w.$-]*)", re.IGNORECASE
)
_QUALIFIED_RE = re.compile(r"^[\w-]+\.[\w-]+(\.[\w-]+)?$")
# WITH keeps its mandatory whitespace (\bWITH\s* would let 'withagg'
# match and capture a phantom CTE); only the comma branch is compact-safe
_CTE_RE = re.compile(
    r"(?:\bWITH\s+|,\s*)([A-Za-z_]\w*)\s+AS\s*\(", re.IGNORECASE
)
# string literals are matched FIRST so a -- or /* INSIDE one never opens a
# comment; an unterminated /* protects to end-of-text rather than not at all
_COMMENT_OR_STRING_RE = re.compile(
    r"'(?:[^']|'')*'|\"[^\"]*\"|(--[^\n]*|/\*.*?\*/|/\*.*\Z)", re.DOTALL
)


def convert_sql_refs(
    project_root: str | Path, model_name: str, write: bool = True
) -> ConvertResult:
    """Replace raw table references in a model's SQL with ``ref()`` /
    ``source()`` calls resolved against the project manifest — the
    reference's convert step for SQL pasted from an ad-hoc console query
    (dbtwiz/model/validate.py:310-346 convert_sql_to_model;
    _replace_table_references :475-501 does the same lookup-and-rewrite
    against the prod manifest).

    A FROM/JOIN target that names a known model becomes
    ``{{ ref('<name>') }}``; a known source becomes
    ``{{ source('raw', '<name>') }}``. Qualified ``a.b[.c]`` references
    (backticked or hyphenated project ids included) that resolve on
    their LAST component are rewritten the same way (the reference
    strips the project/dataset qualifiers); ones that don't resolve are
    reported as unresolved — possibly intentional (temp views, struct
    field access), so they never fail silently. References already
    wrapped in Jinja are left untouched, and so are names the SQL itself
    defines as CTEs — the canonical dbt import-CTE style shadows any
    same-named model on purpose."""
    from dbtwiz_spark.project import load_project

    root = Path(project_root)
    sql_path = next((root / "models").rglob(f"{model_name}.sql"), None)
    if sql_path is None:
        raise FileNotFoundError(f"model {model_name!r} not found")
    manifest, _ = load_project(root)
    sql = sql_path.read_text()
    # references inside -- and /* */ comments AND string literals are
    # never rewritten (the dependency extractor scans raw text, so
    # templating a commented-out FROM would create a false DAG edge, and
    # rewriting text inside a literal corrupts data); CTE names are
    # collected from text with BOTH stripped so neither a commented-out
    # nor an in-string ", x AS (" can shadow a real model reference
    protected_spans = [m.span() for m in _COMMENT_OR_STRING_RE.finditer(sql)]
    stripped = list(sql)
    for a, b in protected_spans:
        for i in range(a, b):
            if stripped[i] != "\n":
                stripped[i] = " "
    cte_names = {m.group(1) for m in _CTE_RE.finditer("".join(stripped))}

    replaced: list[tuple[str, str]] = []
    unresolved: list[str] = []

    def repl(m: re.Match) -> str:
        raw = m.group(3)
        bare = raw.strip("`")
        if any(a <= m.start() < b for a, b in protected_spans):
            return m.group(0)  # inside a comment or string literal
        if bare == model_name or bare in cte_names:
            return m.group(0)  # self-reference / CTE shadowing
        leaf = bare.rsplit(".", 1)[-1]
        if leaf in manifest.models and leaf != model_name:
            new = f"{{{{ ref('{leaf}') }}}}"
        elif leaf in manifest.sources:
            new = f"{{{{ source('raw', '{leaf}') }}}}"
        elif _QUALIFIED_RE.match(bare):
            unresolved.append(raw)
            return m.group(0)
        else:
            return m.group(0)
        replaced.append((raw, new))
        return f"{m.group(1)}{m.group(2)}{new}"

    new_sql = _FROM_JOIN_RE.sub(repl, sql)
    changed = new_sql != sql
    if changed and write:
        atomic_rewrite_text(sql_path, new_sql)
    return ConvertResult(
        path=sql_path, replaced=replaced, unresolved=unresolved, changed=changed
    )


def locally_changed_model_files(project_root: str | Path) -> list[Path]:
    """New or modified model .sql files per git — staged, unstaged, or
    untracked. Parity with the reference's ``--work`` selection
    (dbtwiz/dbt/support.py:6 models_with_local_changes parses
    ``git status --porcelain`` and keeps added/modified paths under
    models/; untracked brand-new models count as "new" here, which the
    reference's A-status also covers once staged). Staged renames/copies
    select the NEW name, and a .yml-sidecar-only change selects its
    model (config changes need a rebuild too). Returns [] outside a git
    work tree."""
    tokens, model_file = _git_model_records(project_root, "status", "--porcelain")
    out = []
    i = 0
    while i < len(tokens):
        rec = tokens[i]
        i += 1
        if len(rec) < 4:
            continue
        status, path = rec[:2], rec[3:]
        if "R" in status or "C" in status:
            # rename/copy records carry the ORIGINAL path as the next
            # token; the new path above is the buildable change (a
            # git-mv'd model is a brand-new name that was never built)
            i += 1
        elif not (set(status) & set("AM?")):
            continue  # deletes/unmerged are not buildable changes
        if path.endswith(".yml"):
            # a sidecar-only change (materialization, partitioning,
            # tests) re-selects its model: map to the sibling .sql
            path = path[: -len(".yml")] + ".sql"
        p = model_file(path)
        if p is not None:
            out.append(p)
    return sorted(set(out))
