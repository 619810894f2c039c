"""Dynamic-property supplier tests (``decaton_spark.config``)."""

from __future__ import annotations

import json
import time

import pytest

from decaton_spark.config import (
    PROPERTY_DEFS,
    FilePropertySupplier,
    StaticPropertySupplier,
    chain,
)


def test_static_supplier_and_defaults():
    s = StaticPropertySupplier(**{"decaton.processing.rate.per.partition": 100})
    assert s.get("decaton.processing.rate.per.partition") == 100
    assert s.get("decaton.max.pending.records") == 10_000  # default
    with pytest.raises(KeyError):
        StaticPropertySupplier(**{"not.a.property": 1})
    assert set(s.snapshot()) == set(PROPERTY_DEFS)


def test_file_supplier_reload(tmp_path):
    p = tmp_path / "props.json"
    p.write_text(json.dumps({"decaton.ignore.keys": ["a"]}))
    s = FilePropertySupplier(str(p))
    assert s.get("decaton.ignore.keys") == ["a"]
    time.sleep(0.01)
    p.write_text(json.dumps({"decaton.ignore.keys": ["a", "b"]}))
    import os

    os.utime(p, (time.time() + 1, time.time() + 1))
    assert s.get("decaton.ignore.keys") == ["a", "b"], "edit must take effect"
    assert s.get("decaton.commit.interval.ms") == 1_000  # default fallthrough


def test_chained_suppliers(tmp_path):
    p = tmp_path / "props.json"
    p.write_text(json.dumps({"decaton.processing.rate.per.partition": 5}))
    file_s = FilePropertySupplier(str(p))
    static_s = StaticPropertySupplier(**{"decaton.max.pending.records": 42})
    get = chain(file_s, static_s)
    assert get("decaton.processing.rate.per.partition") == 5
    assert get("decaton.max.pending.records") == 42
    assert get("decaton.commit.interval.ms") == 1_000


def test_chain_first_supplier_wins_even_on_default_value(tmp_path):
    """Precedence is by *definedness*, not value: a supplier explicitly
    setting a property to its default still wins over a later supplier
    with a non-default value (ProcessorProperties.Builder.setBySupplier)."""
    first = StaticPropertySupplier(**{"decaton.max.pending.records": 10_000})
    second = StaticPropertySupplier(**{"decaton.max.pending.records": 42})
    assert chain(first, second)("decaton.max.pending.records") == 10_000
    assert first.defines("decaton.max.pending.records")
    assert not first.defines("decaton.commit.interval.ms")
