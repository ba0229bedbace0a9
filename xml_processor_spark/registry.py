"""Query registry — the single source of truth for the t2 contract.

Every operator from SURVEY.md §2 registers here exactly once, with BOTH its
PySpark implementation and (when SQL-expressible) its independent DuckDB
oracle SQL. ``__spark_entry__.py`` exposes the registry to the driver.

Query modules are imported lazily. An index of key → module is built by
scanning the package sources for line-leading ``@register("…"`` and
``_sql_query("…"`` calls (a few ms over ~1 MB, no imports).
:func:`get_queries` and :func:`get_oracles` are read-only mappings over that
index; looking up or testing a key imports only its module. ``REGISTRY``
therefore holds just the keys of the modules imported so far — read the
full inventory through the mappings, or call :func:`load_all` first.

Determinism discipline (SURVEY §2 preamble) is enforced by construction in
the helpers of :mod:`xml_processor_spark.functions.deterministic`:
total orders with unique tie-breakers, ``sort_array``-wrapped collects,
rounded floats, second-truncated timestamps, ``min_by/max_by`` over
``first/last``.
"""

from __future__ import annotations

import functools
import importlib
import os
import re
from collections.abc import Callable, Iterator, Mapping
from dataclasses import dataclass, field
from typing import TypeVar

from pyspark.sql import DataFrame, SparkSession

SparkQuery = Callable[[SparkSession, str], DataFrame]
_V = TypeVar("_V")


@dataclass(frozen=True)
class Query:
    """One t2-contract row (SURVEY §2)."""

    name: str
    spark: SparkQuery
    oracle: str | None  # DuckDB SQL; None → driver's weaker rows-only check
    origin: str = "CORE"  # REF | CORE | LLM (SURVEY §0.1 scope tags)
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


REGISTRY: dict[str, Query] = {}


class RegistryIndexError(RuntimeError):
    """The source scan and the registrations a module makes disagree."""


def register(
    name: str,
    oracle: str | None,
    origin: str = "CORE",
    doc: str = "",
    tags: tuple[str, ...] = (),
) -> Callable[[SparkQuery], SparkQuery]:
    """Decorator: register a (spark_fn, oracle_sql) pair under ``name``."""

    def _wrap(fn: SparkQuery) -> SparkQuery:
        if name in REGISTRY:
            raise ValueError(f"duplicate query key: {name}")
        REGISTRY[name] = Query(
            name=name, spark=fn, oracle=oracle, origin=origin,
            doc=doc or (fn.__doc__ or ""), tags=tags,
        )
        return fn

    return _wrap


_PKG = __name__.rpartition(".")[0]
_PKG_DIR = os.path.dirname(os.path.abspath(__file__))
# A registration starts a line: ``@register(`` decorates a top-level
# function, ``_sql_query(`` is composite's dual-dialect helper. A literal
# ``None`` right after the key (positional or ``oracle=``) marks a key
# without an oracle; ``_sql_query`` always has one.
_KEY_RE = re.compile(
    r'\n(?:@register|_sql_query)\(\s*"([^"]+)"(\s*,\s*(?:oracle\s*=\s*)?None\b)?'
)


@dataclass(frozen=True)
class _Index:
    module: dict[str, str]  # key → module, keys in lexicographic order
    no_oracle: frozenset[str]


def _scan(pkg: str, pkg_dir: str) -> _Index:
    """Scan a package's sources for registrations, without importing them."""
    found: dict[str, str] = {}
    no_oracle = set()
    for d, dirs, files in os.walk(pkg_dir):
        dirs[:] = sorted(x for x in dirs if not x.startswith(("_", ".")))
        rel = os.path.relpath(d, pkg_dir)
        prefix = pkg if rel == "." else f"{pkg}.{rel.replace(os.sep, '.')}"
        for f in sorted(files):
            if not f.endswith(".py") or f == "__init__.py":
                continue
            with open(os.path.join(d, f), encoding="utf-8") as fh:
                text = fh.read()
            module = f"{prefix}.{f[:-3]}"
            for m in _KEY_RE.finditer(text):
                key = m.group(1)
                if key in found:
                    raise RegistryIndexError(
                        f"key {key!r} found in both {found[key]} and {module}")
                found[key] = module
                if m.group(2):
                    no_oracle.add(key)
    return _Index({k: found[k] for k in sorted(found)}, frozenset(no_oracle))


@functools.cache
def _index() -> _Index:
    return _scan(_PKG, _PKG_DIR)


def _query(key: str) -> Query:
    """The registered row of ``key``, importing its module on first use."""
    q = REGISTRY.get(key)
    if q is None:
        module = _index().module[key]
        importlib.import_module(module)
        q = REGISTRY.get(key)
        if q is None:
            raise RegistryIndexError(
                f"{module} does not register {key!r}, which the source scan "
                f"found in it")
    return q


def _oracle(key: str) -> str:
    oracle = _query(key).oracle
    if oracle is None:
        raise RegistryIndexError(
            f"{key!r} registers no oracle, but the source scan found one")
    return oracle


class _LazyMapping(Mapping[str, _V]):
    """Read-only mapping over a fixed key tuple; a lookup (or ``in`` test)
    imports the key's module and returns what ``get`` makes of its row."""

    def __init__(self, keys: tuple[str, ...], get: Callable[[str], _V]):
        self._keys = keys
        self._known = frozenset(keys)
        self._get = get

    def __getitem__(self, key: str) -> _V:
        if key not in self._known:
            raise KeyError(key)
        return self._get(key)

    def __iter__(self) -> Iterator[str]:
        return iter(self._keys)

    def __len__(self) -> int:
        return len(self._keys)


# Driver-facing key order: plain lexicographic. The order is canonical and
# content-independent — registration import order, verification history, and
# round number play no part in it, so the driver (which may sample or cap the
# keys it checks per round) sees a stable, non-curated inventory and chooses
# its own coverage.
def get_queries() -> Mapping[str, SparkQuery]:
    return _LazyMapping(tuple(_index().module), lambda k: _query(k).spark)


def get_oracles() -> Mapping[str, str]:
    idx = _index()
    return _LazyMapping(
        tuple(k for k in idx.module if k not in idx.no_oracle), _oracle)


def load_all() -> None:
    """Import every module the source scan found registrations in, then
    check that together they register exactly the scanned keys (and
    oracles), so ``REGISTRY`` holds the full inventory."""
    idx = _index()
    for module in dict.fromkeys(idx.module.values()):
        importlib.import_module(module)
    missing = sorted(set(idx.module) - set(REGISTRY))
    unscanned = sorted(set(REGISTRY) - set(idx.module))
    oracle_drift = sorted(
        k for k in idx.module
        if k in REGISTRY and (REGISTRY[k].oracle is None) != (k in idx.no_oracle))
    if missing or unscanned or oracle_drift:
        raise RegistryIndexError(
            f"source scan vs registrations: not registered {missing}, "
            f"not found by the scan {unscanned}, oracle presence differs "
            f"{oracle_drift}")
