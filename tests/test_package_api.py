"""The lazy export table of `quickwit_spark`: every name resolves, so a
deleted module or a renamed attribute cannot leave a stale export."""

import importlib

import quickwit_spark


def test_every_lazy_export_resolves():
    stale = []
    for name, (mod, attr) in sorted(quickwit_spark._API.items()):
        try:
            value = getattr(importlib.import_module(mod), attr)
        except (ImportError, AttributeError) as e:
            stale.append(f"{name}: {e}")
            continue
        assert getattr(quickwit_spark, name) is value
    assert stale == []

