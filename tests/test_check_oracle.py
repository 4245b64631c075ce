"""``scripts/check_oracle.py`` compare and ``--strict`` classification.
Pure pandas: no Spark job runs."""

import importlib.util
import os

import pandas as pd

_PATH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                     "scripts", "check_oracle.py")
_spec = importlib.util.spec_from_file_location("check_oracle", _PATH)
check_oracle = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(check_oracle)


def test_float_vs_int_column_is_strict_fail():
    # one engine returns DOUBLE, the other an integer type: the gate's
    # numeric compare accepts it, the driver's value hash does not
    spark = pd.DataFrame({"k": ["ALL", "a"], "n": [657.0, 3.0]})
    duck = pd.DataFrame({"k": ["ALL", "a"], "n": [657, 3]})
    assert check_oracle.compare(spark, duck) == []
    verdict, problems = check_oracle.strict_verdict(spark, duck)
    assert verdict == "FAIL"
    assert "'657.0'" in problems[0] and "'657'" in problems[0]


def test_strict_ok_and_tolerance_only():
    a = pd.DataFrame({"x": [0.5, -0.0, 1.25], "s": ["p", "q", "r"]})
    assert check_oracle.strict_verdict(a, a.copy()) == ("OK", [])
    # -0.0 and 0.0 render the same
    b = a.assign(x=[0.5, 0.0, 1.25])
    assert check_oracle.strict_verdict(a, b) == ("OK", [])
    # differs only past the 6th decimal -> TOL, not FAIL
    c = a.assign(x=[0.5, -0.0, 1.2500000001])
    verdict, problems = check_oracle.strict_verdict(a, c)
    assert verdict == "TOL" and problems
    # differs in the 4th decimal -> FAIL in both modes
    d = a.assign(x=[0.5, -0.0, 1.2501])
    assert check_oracle.compare(a, d)
    assert check_oracle.strict_verdict(a, d)[0] == "FAIL"


def test_strict_row_and_column_shape_mismatch_fail():
    a = pd.DataFrame({"x": [1, 2]})
    assert check_oracle.strict_verdict(a, a.head(1))[0] == "FAIL"
    assert check_oracle.strict_verdict(a, a.rename(columns={"x": "y"}))[0] == "FAIL"
