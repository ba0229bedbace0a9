"""The lazy query registry: the source-scan index, what a lookup imports,
and the named error when a module and the scan disagree."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "xml_processor_spark"
# Modules any lookup may pull in besides the key's own module.
_BASE = {PKG, f"{PKG}.registry", f"{PKG}.io", f"{PKG}.functions",
         f"{PKG}.functions.deterministic"}


def _fresh(code: str) -> dict:
    """Run ``code``, which sets a dict ``out``, in a new interpreter;
    return ``out`` with ``mods`` set to the package modules imported."""
    prog = textwrap.dedent(code) + textwrap.dedent(f"""
        import json, sys
        out["mods"] = sorted(m for m in sys.modules
                             if m == "{PKG}" or m.startswith("{PKG}."))
        print(json.dumps(out))
    """)
    env = dict(os.environ, PYTHONPATH=ROOT)
    res = subprocess.run([sys.executable, "-c", prog], cwd=ROOT, env=env,
                         capture_output=True, text=True, timeout=120)
    assert res.returncode == 0, res.stderr[-2000:]
    return json.loads(res.stdout.strip().splitlines()[-1])


def test_mappings_import_no_query_module():
    got = _fresh(f"""
        from {PKG}.registry import get_oracles, get_queries
        qs, os_ = get_queries(), get_oracles()
        out = {{"n": len(qs), "n_oracle": len(os_),
                "sorted": list(qs) == sorted(qs) and list(os_) == sorted(os_)}}
    """)
    assert got["n"] == 352 and got["n_oracle"] == 349 and got["sorted"]
    assert set(got["mods"]) == {PKG, f"{PKG}.registry"}


@pytest.mark.parametrize("keys, modules", [
    (["q_agg_group"], {"operators.aggregation"}),
    (["q_tpch_q1", "q_tpch_q5", "q_join_asof", "q_win_rownum",
      "q_events_sessionize"],
     {"operators.composite", "operators.analytics", "operators.joins",
      "operators.windows"}),
])
def test_lookup_imports_only_the_keys_modules(keys, modules):
    got = _fresh(f"""
        from {PKG}.registry import get_oracles, get_queries
        qs, os_ = get_queries(), get_oracles()
        out = {{"mod_of": {{k: qs[k].__module__ for k in {keys!r}}},
                "has_oracle": all(k in os_ for k in {keys!r})}}
    """)
    want = {f"{PKG}.{m}" for m in modules}
    assert set(got["mod_of"].values()) == want
    assert got["has_oracle"]
    assert set(got["mods"]) == _BASE | want | {f"{PKG}.operators"}


def test_index_equals_registry_after_load_all():
    from xml_processor_spark.registry import (
        REGISTRY, _index, get_oracles, get_queries, load_all,
    )

    load_all()
    idx = _index()
    assert list(idx.module) == sorted(REGISTRY)
    assert list(get_queries()) == sorted(REGISTRY)
    assert list(get_oracles()) == sorted(
        k for k, q in REGISTRY.items() if q.oracle is not None)
    assert len(set(idx.module.values())) == 34
    for key, module in idx.module.items():
        assert REGISTRY[key].spark.__module__ == module, key
        assert get_queries()[key] is REGISTRY[key].spark


def test_unknown_key_raises_keyerror():
    from xml_processor_spark.registry import get_oracles, get_queries

    qs, oracles = get_queries(), get_oracles()
    for m in (qs, oracles):
        with pytest.raises(KeyError):
            m["q_no_such_key"]
        assert "q_no_such_key" not in m
        assert m.get("q_no_such_key") is None
    # A key without an oracle is a query but not an oracle.
    assert "E-APPROX-CD" in qs and "E-APPROX-CD" not in oracles
    with pytest.raises(TypeError):
        qs["q_agg_group"] = None


def test_module_registering_fewer_keys_than_scanned(tmp_path, monkeypatch):
    """A line-leading ``@register("…"`` inside a string is scanned as a key
    the module never registers: looking it up, and ``load_all``, name the
    mismatch instead of returning a partial registry."""
    from xml_processor_spark import registry

    pkg = tmp_path / "fake_queries"
    pkg.mkdir()
    (pkg / "__init__.py").write_text("")
    (pkg / "mod.py").write_text(textwrap.dedent('''
        from xml_processor_spark.registry import register

        NOTE = """
        @register("q_fake_ghost", oracle="SELECT 2")
        """


        @register("q_fake_real", oracle="SELECT 1")
        def q_fake_real(spark, sf_dir):
            return None
    '''))
    monkeypatch.syspath_prepend(str(tmp_path))
    monkeypatch.setattr(registry, "REGISTRY", {})
    idx = registry._scan("fake_queries", str(pkg))
    monkeypatch.setattr(registry, "_index", lambda: idx)

    qs = registry.get_queries()
    try:
        assert list(qs) == ["q_fake_ghost", "q_fake_real"]
        assert qs["q_fake_real"].__module__ == "fake_queries.mod"
        with pytest.raises(registry.RegistryIndexError, match="q_fake_ghost"):
            qs["q_fake_ghost"]
        with pytest.raises(registry.RegistryIndexError, match="q_fake_ghost"):
            registry.load_all()
    finally:
        sys.modules.pop("fake_queries.mod", None)
        sys.modules.pop("fake_queries", None)
