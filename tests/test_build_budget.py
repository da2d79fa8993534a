"""Building a grid gate's query costs a bounded number of py4j round
trips. Every call from the driver to the JVM is one round trip (0.3-0.5
ms each on a 4-core host), and at the scale of these gates the driver's
construction time is most of a query's floor; a per-dim ``withColumn``
or a broadcast per query shows up here as tens of calls."""

from __future__ import annotations

import contextlib

from xarray_beam_spark import registry, session

# Calls per build in a warm session, with a little room for the few
# that pyspark's own UDF wrapping may add across versions.
BUDGET = {
    "xb_grid_roundtrip": 102,
    "xb_map_blocks_affine": 40,
    "xb_grid_mean_hour": 95,
    "xb_grid_climatology_dow": 95,
    "xb_grid_cumsum_day": 95,
    "xb_grid_rolling7_mean": 100,
}


@contextlib.contextmanager
def _counting(spark):
    """Count the py4j commands sent while the block runs, except the
    detaches of collected JVM handles: those follow Python's garbage
    collector, not the code being measured."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    count = [0]

    def counted(command, *args, **kwargs):
        if not command.startswith("m\nd\n"):
            count[0] += 1
        return send(command, *args, **kwargs)

    client.send_command = counted
    try:
        yield count
    finally:
        client.send_command = send


def test_building_a_grid_gate_stays_within_its_round_trip_budget(spark, sf_dir):
    queries = registry.queries()
    for gate in BUDGET:  # fixtures, accumulators and imports: once a session
        queries[gate](spark, sf_dir)
    session.reset()
    used = {}
    for gate in BUDGET:
        with _counting(spark) as count:
            queries[gate](spark, sf_dir)
        used[gate] = count[0]
    over = {g: f"{n} > {BUDGET[g]}" for g, n in used.items() if n > BUDGET[g]}
    assert not over, f"py4j calls to build each gate: {used}; over budget: {over}"
