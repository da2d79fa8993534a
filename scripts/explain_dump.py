"""Write tests/plan_shapes.json, the plan-shape table that
tests/test_plan_hygiene.py checks every batch gate's plan against.

Usage:
  python scripts/explain_dump.py

Builds each batch gate's physical plan as the test does (the test session,
the test data, ``_collect_lazy_plans``) and counts its nodes with the
test's ``plan_shape``. Query construction may run eager fixture builds;
the plans themselves are never executed. Review the diff of the table: it
is the record of which gates gained or lost an exchange, a Python node or
a cached input.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tests"))

import conftest  # noqa: E402
import test_plan_hygiene as hygiene  # noqa: E402


def main() -> None:
    spark = conftest.build_spark()
    spark.sparkContext.setLogLevel("ERROR")
    _, shapes = hygiene._collect_lazy_plans(spark, conftest.SF_DIR)
    rows = ",\n".join(f"  {json.dumps(name)}: {json.dumps(shape)}" for name, shape in shapes.items())
    hygiene.PLAN_SHAPES.write_text("{\n" + rows + "\n}\n")
    print(f"wrote {len(shapes)} gates to {hygiene.PLAN_SHAPES}", file=sys.stderr)


if __name__ == "__main__":
    main()
