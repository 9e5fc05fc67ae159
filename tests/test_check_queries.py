"""tools/check_queries.py's output hash, loaded by path (no Spark)."""

import importlib.util
import pathlib

import pandas as pd

_TOOL = pathlib.Path(__file__).resolve().parents[1] / "tools" / "check_queries.py"


def _tool():
    spec = importlib.util.spec_from_file_location("check_queries", _TOOL)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_output_hash_ignores_order_and_sees_one_value():
    cq = _tool()
    df = pd.DataFrame({
        "row": [0, 1, 2], "v": [0.5, -1.0, 2.25],
        "ws": [[1.0, 0.0], [0.25, 0.75], [0.0, 0.0]],
    })
    base = cq.output_hash(df)
    assert len(base) == 12 and int(base, 16) >= 0
    assert cq.output_hash(df.iloc[::-1][["ws", "v", "row"]]) == base
    one = df.copy()
    one.loc[1, "v"] = -1.5
    assert cq.output_hash(one) != base
