"""Catalog query plans.

Every ``queries*`` module holds one ``QUERIES…`` dict (name -> plan
function) and one ``ORACLE…`` dict (name -> DuckDB twin SQL);
:func:`catalog` discovers and merges them on call, so importing one
module does not import the whole catalog.
"""

from __future__ import annotations

import importlib
import pkgutil


def catalog(package: str = __name__) -> tuple[dict, dict]:
    """Merge the ``QUERIES…``/``ORACLE…`` dict pair of every ``queries*``
    module of ``package`` into one ``(queries, oracles)`` pair.

    Raises ValueError when a module holds no such pair or more than one,
    or when two modules define the same query name.
    """
    queries: dict = {}
    oracles: dict = {}
    owner: dict[str, str] = {}
    path = importlib.import_module(package).__path__
    for info in pkgutil.iter_modules(path):
        if not info.name.startswith("queries"):
            continue
        mod = importlib.import_module(f"{package}.{info.name}")
        found = [[v for k, v in vars(mod).items()
                  if k.startswith(prefix) and isinstance(v, dict)]
                 for prefix in ("QUERIES", "ORACLE")]
        if [len(f) for f in found] != [1, 1]:
            raise ValueError(
                f"{mod.__name__}: expected one QUERIES…/ORACLE… dict pair, "
                f"found {len(found[0])} QUERIES and {len(found[1])} ORACLE "
                "dicts")
        (plans,), (sql,) = found
        for name in plans.keys() | sql.keys():
            if name in owner:
                raise ValueError(f"query {name!r} is defined in both "
                                 f"{owner[name]} and {mod.__name__}")
            owner[name] = mod.__name__
        queries.update(plans)
        oracles.update(sql)
    return queries, oracles
