"""Named-query registry: each engine operator is exposed as a named
query ``(spark, sf_dir) -> DataFrame`` plus (where SQL-expressible) a
DuckDB oracle twin — the driver's correctness gate (see repo-root
``__spark_entry__.py``).

Parity rules that every registered query follows (so the driver's
order-insensitive value-hash matches bit-for-bit):

- Alias every computed column identically in Spark and SQL.
- Money/measure sums go through exact DECIMAL arithmetic (double
  sums are order-dependent); averages are ``CAST(dec_sum AS DOUBLE) /
  count`` so both engines do one identical IEEE division.
- Window functions only emit ``row_number`` alongside the FULL
  ordering key, so tied rows permute into identical output rows.
- Timestamps are compared as dates / epoch integers, session TZ
  pinned to UTC.
"""

from __future__ import annotations

import ast
import contextlib
import functools
import hashlib
import inspect
import json
import os
import sys
from collections.abc import Callable, Iterator
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

#: Session confs every registered query requires AT EXECUTION TIME.
#: Because DataFrames are lazy, the @query wrapper pins these for the
#: session and deliberately does NOT restore them afterwards — restoring
#: before the caller collects would silently change cast/timezone
#: semantics mid-plan. Library callers embedding queries in a session
#: with different settings should collect inside ``pinned_conf(spark)``
#: to get save/restore isolation.
PINNED_CONF = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.ansi.enabled": "false",
}


@contextlib.contextmanager
def pinned_conf(spark: SparkSession) -> Iterator[None]:
    """Pin :data:`PINNED_CONF` for the duration of the block, then
    restore the caller's previous values (including unset)."""
    prev: dict[str, str | None] = {}
    for k, v in PINNED_CONF.items():
        try:
            prev[k] = spark.conf.get(k)
        except Exception:
            prev[k] = None
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, old in prev.items():
            if old is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, old)


@dataclass
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL twin; None → driver does rows-only check
    doc: str = ""
    content_hash: str = ""  # sha256 of (fn source, oracle) at registration


_PKG_NAME = "data_ingestion_task_spark"
_PKG_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: The registry module itself is excluded from dependency closures:
#: every plan module imports its @query decorator, so including it
#: would uncertify all queries on any ordering/infra tweak — defeating
#: the bounded-check-window invariant the ledger exists to keep. Its
#: behavior is pinned by tests/test_registry_ordering.py and
#: tests/test_registry_deps.py instead. After editing it, run
#: ``tools/record_driver_check.py --rehash`` on a clean tree.
_DEP_EXCLUDE = {_PKG_NAME + ".plans.registry"}


@functools.lru_cache(maxsize=None)
def _module_path(mod: str) -> str | None:
    """File path of a first-party dotted module name, else None."""
    if mod != _PKG_NAME and not mod.startswith(_PKG_NAME + "."):
        return None
    rel = mod[len(_PKG_NAME) :].lstrip(".").replace(".", os.sep)
    base = os.path.join(_PKG_ROOT, rel) if rel else _PKG_ROOT
    if os.path.isfile(base + ".py"):
        return base + ".py"
    init = os.path.join(base, "__init__.py")
    return init if os.path.isfile(init) else None


@functools.lru_cache(maxsize=None)
def _file_sha(path: str) -> str:
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


@functools.lru_cache(maxsize=None)
def _direct_deps(mod: str) -> tuple[str, ...]:
    """First-party modules ``mod`` imports, resolved from its AST (no
    execution). Handles absolute and relative imports, and the
    ``from pkg import submodule`` form."""
    path = _module_path(mod)
    if path is None:
        return ()
    with open(path, encoding="utf-8") as f:
        tree = ast.parse(f.read())
    parts = mod.split(".")
    # Relative imports resolve against the containing package; a
    # package's __init__.py resolves level-1 against itself.
    pkg = parts if path.endswith("__init__.py") else parts[:-1]
    found: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                found.add(a.name)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                base = pkg[: len(pkg) - (node.level - 1)]
                m = ".".join(base + ([node.module] if node.module else []))
            else:
                m = node.module or ""
            found.add(m)
            for a in node.names:  # `from pkg import submodule`
                found.add(m + "." + a.name if m else a.name)
    deps = {m for m in found if m not in _DEP_EXCLUDE and _module_path(m)}
    deps.discard(mod)
    return tuple(sorted(deps))


@functools.lru_cache(maxsize=None)
def _dep_hash(root_mod: str) -> str:
    """Combined content hash of ``root_mod`` plus its transitive
    first-party import closure. Folding this into every query's
    content hash means an edit to a shared helper (``functions/``,
    ``operators/``, ``sources/`` …) automatically re-sorts all
    dependent queries into the driver's bounded check window — closing
    the r3 'honor-system --evict' hole. Coarse by design: any edit to
    a module in the closure (comments included) uncertifies every
    query in its dependents."""
    seen: set[str] = set()
    stack = [root_mod]
    while stack:
        m = stack.pop()
        if m in seen or m in _DEP_EXCLUDE:
            continue
        seen.add(m)
        stack.extend(_direct_deps(m))
    h = hashlib.sha256()
    for m in sorted(seen):
        p = _module_path(m)
        if p is not None:
            h.update(m.encode())
            h.update(b"\0")
            h.update(_file_sha(p).encode())
            h.update(b"\0")
    return h.hexdigest()


def _content_hash(fn: Callable, oracle: str | None) -> str:
    """Fingerprint of a query's observable definition: its function
    source (decorators included) + oracle SQL + the file hashes of its
    defining module's transitive first-party import closure
    (:func:`_dep_hash`). Any edit to the query, its oracle, or any
    first-party helper it (transitively) imports makes the query sort
    back into the driver's bounded check prefix (see
    ``_ordered_names``)."""
    try:
        src = inspect.getsource(fn)
    except (OSError, TypeError):  # REPL-defined fn: treat as always-changed
        src = ""
    h = hashlib.sha256()
    h.update(src.encode())
    h.update(b"\0")
    h.update((oracle or "").encode())
    h.update(b"\0")
    h.update(_dep_hash(getattr(fn, "__module__", "") or "").encode())
    return h.hexdigest()


REGISTRY: dict[str, QuerySpec] = {}


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register an engine query under ``name`` with an optional oracle."""

    def deco(fn: QueryFn) -> QueryFn:
        @functools.wraps(fn)
        def wrapped(
            spark: SparkSession, sf_dir: str, *args, **kwargs
        ) -> DataFrame:
            # Deterministic semantics regardless of the caller's
            # session defaults: UTC timestamps; non-ANSI (try_* style)
            # null-on-error casts like the oracle's. Left pinned after
            # return — see PINNED_CONF for why, and pinned_conf() for
            # callers needing isolation. Extra args pass through for
            # queries exposing library-call knobs (e.g. the recall
            # audits' sample_mod); the driver always calls with the
            # two-arg form, whose defaults the oracle pins.
            for k, v in PINNED_CONF.items():
                spark.conf.set(k, v)
            return fn(spark, sf_dir, *args, **kwargs)

        REGISTRY[name] = QuerySpec(
            name=name,
            fn=wrapped,
            oracle=oracle,
            doc=fn.__doc__ or "",
            content_hash=_content_hash(fn, oracle),
        )
        return wrapped

    return deco


_LOADED = False


def load_all() -> None:
    """Import every plan module so its @query decorators run."""
    global _LOADED
    if _LOADED:
        return
    from . import (  # noqa: F401
        bucketed_plans,
        calibration_plans,
        corpus_plans,
        curate_plans,
        dedup_plans,
        dedup_store_plans,
        doctype_plans,
        embedding_curation_plans,
        encode_plans,
        eval_plans,
        events_plans,
        extract_plans,
        interval_plans,
        ivfpq_plans,
        lm_plans,
        ml_plans,
        multimodal_plans,
        neardup_store_plans,
        normalize_plans,
        pretrain_plans,
        quality_plans,
        refine_plans,
        relational_agg_plans,
        relational_join_plans,
        relational_sample_plans,
        retrieval_plans,
        selection_plans,
        skew_plans,
        text_plans,
        tpch_more_plans,
        tpch_plans,
        upsert_plans,
        vector_plans,
        vocab_plans,
        window_plans,
    )

    _LOADED = True


#: Ledger of queries certified by an external driver check: maps query
#: name -> content hash (``QuerySpec.content_hash``) at the time the
#: driver last verified it green. Maintained ONLY by
#: ``tools/record_driver_check.py`` from CORRECTNESS_r*.json artifacts
#: — never hand-curated. A query whose current hash differs from (or is
#: absent in) the ledger is UNCERTIFIED and sorts first so the driver's
#: bounded check prefix always covers changed-or-new queries before the
#: long-stable remainder.
CHECKED_LEDGER_PATH = os.path.join(os.path.dirname(__file__), "driver_checked.json")


def checked_ledger() -> dict[str, str]:
    try:
        with open(CHECKED_LEDGER_PATH) as f:
            return json.load(f)
    except (OSError, json.JSONDecodeError):
        return {}


def uncertified_names() -> list[str]:
    """Registered queries whose current definition was never verified
    by a driver check (new, or edited since their last green check), in
    registration order."""
    load_all()
    ledger = checked_ledger()
    return [n for n, spec in REGISTRY.items() if ledger.get(n) != spec.content_hash]


def _ordered_names() -> list[str]:
    """Uncertified queries first (registration order), then certified
    ones (registration order). This is the single ordering rule — no
    hand-picked priority list. The external harness checks a bounded
    prefix of this dict, so the invariant this enforces is: nothing
    changed-since-last-check can rotate out of the checked window."""
    load_all()
    ledger = checked_ledger()
    # A stale ledger name (query renamed/deleted) cannot affect the
    # ordering invariant, so it must not take down a driver run — warn
    # and ignore here; tools/record_driver_check.py prunes them and
    # tests/test_registry_ordering.py fails if any are committed.
    stale = [n for n in ledger if n not in REGISTRY]
    if stale:
        print(
            f"WARNING: driver_checked.json names no longer registered "
            f"(ignored): {stale} — rerun tools/record_driver_check.py",
            file=sys.stderr,
        )
    first = [n for n, spec in REGISTRY.items() if ledger.get(n) != spec.content_hash]
    rest = [n for n, spec in REGISTRY.items() if ledger.get(n) == spec.content_hash]
    return first + rest


def queries_dict() -> dict[str, QueryFn]:
    return {name: REGISTRY[name].fn for name in _ordered_names()}


def oracle_dict() -> dict[str, str]:
    return {
        name: REGISTRY[name].oracle
        for name in _ordered_names()
        if REGISTRY[name].oracle
    }
