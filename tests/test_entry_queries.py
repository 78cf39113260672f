"""Driver query table (__spark_entry__.queries): the explicitly named
functions win over registry entries of the same name, and a `_PRIORITY`
name with no query behind it fails with that name."""

import pytest

import __spark_entry__ as entrymod


def test_explicit_names_win_over_registries(monkeypatch):
    def impostor(spark, sf_dir):
        raise AssertionError("registry entry shadowed an explicit name")

    monkeypatch.setattr(entrymod, "_REGISTRIES", entrymod._REGISTRIES + (
        {"kg_triples_flagship": (impostor, None)},))
    qs = entrymod.queries()
    assert qs["kg_triples_flagship"] is entrymod.kg_triples_flagship
    assert next(iter(qs)) == "kg_triples_flagship"


def test_unknown_priority_name_is_named(monkeypatch):
    monkeypatch.setattr(entrymod, "_PRIORITY",
                        entrymod._PRIORITY + ["no_such_query"])
    with pytest.raises(AssertionError, match="no_such_query"):
        entrymod.queries()
