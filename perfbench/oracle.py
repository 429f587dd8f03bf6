"""Checks the surface workload's answers against DuckDB running each
key's oracle SQL over the same generated corpus.

Both sides are reduced to the repo's oracle-compare form, taken from
`tools/check.py` so that this check follows it: columns sorted by name,
rows sorted, floats rendered to 9 significant digits with a marker that
keeps them apart from integers, and the int/float/bool/other kind of
every column compared too.
"""
import json
import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                                "tools"))
from check import TABLES, canon  # noqa: E402


def check(answers_dir, corpus_dir, keys, tmp):
    """Returns (key, reason) for each wrong key. DuckDB spills to `tmp`."""
    oracles = json.load(open(os.path.join(answers_dir, "oracle_sql.json")))
    con = duckdb.connect(config={"temp_directory": tmp})
    con.execute(f"SET threads TO {os.cpu_count() or 1}")
    for t in TABLES:
        p = os.path.join(corpus_dir, t + ".parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    wrong = []
    for key in keys:
        if key not in oracles:
            wrong.append((key, "no oracle SQL"))
            continue
        try:
            got = canon(pd.read_parquet(os.path.join(answers_dir, key)))
            want = canon(con.execute(oracles[key]).df())
        except Exception as e:  # an oracle or an answer that cannot be read
            wrong.append((key, f"{type(e).__name__}: {str(e)[:200]}"))
            continue
        if got[0] != want[0]:
            wrong.append((key, f"columns {got[0]} != {want[0]}"))
        elif got[1] != want[1]:
            wrong.append((key, f"column kinds {got[1]} != {want[1]}"))
        elif got[2] != want[2]:
            wrong.append((key, f"rows differ ({len(got[2])} vs {len(want[2])})"))
    con.close()
    return wrong
