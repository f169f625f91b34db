#!/usr/bin/env python
"""spark-submit entry point: infer a JSON Schema from a documents table.

Spark-native twin of the reference's schema-inference CLI
(``/root/reference/biosample_enricher/schema_inference.py:17-66``),
which samples a Mongo collection into a genson ``SchemaBuilder`` and
writes a draft 2020-12 JSON Schema document::

    spark-submit --py-files /tmp/engine.zip jobs/schema_infer.py \\
        --input <parquet path or iceberg:table> \\
        --out-json-schema /path/schema.json \\
        [--sample-size 50000] [--where "lang = 'en'"]

``--where`` is the analog of the reference's ``--query`` JSON filter
(applied before sampling); ``--sample-size`` caps the counting pass
with a seeded hash-sample. The property/item shapes come from the
typed table schema; the data-driven ``required`` lists come from ONE
distributed counting aggregation (see operators/schema_infer.py).

The session is ``session.get_spark``'s, as in ``jobs/validate.py``: the
engine's SQL settings, with the master and driver memory from
spark-submit.
"""

from __future__ import annotations

import argparse
import json
import sys


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", required=True)
    p.add_argument("--out-json-schema", required=True)
    p.add_argument("--sample-size", type=int, default=50_000)
    p.add_argument("--where", default=None,
                   help="SQL predicate applied before sampling "
                        "(reference --query analog)")
    p.add_argument("--seed", type=int, default=42)
    return p.parse_args(argv)


def main(argv: list[str]) -> None:
    args = parse_args(argv)

    from pyspark.sql import SparkSession

    from biosample_enricher_spark.operators.schema_infer import (
        infer_json_schema,
    )
    from biosample_enricher_spark.session import get_spark
    from biosample_enricher_spark.sources import resolve_table_io

    # a live session (in-process call) is kept as it is; otherwise the
    # engine's session, with spark-submit's master and driver memory
    spark = SparkSession.getActiveSession() or get_spark(app_name="schema_infer")

    df = resolve_table_io(spark, args.input).read()
    if args.where:
        df = df.where(args.where)
    schema = infer_json_schema(
        df, sample_size=args.sample_size, seed=args.seed
    )
    with open(args.out_json_schema, "w") as f:
        json.dump(schema, f, indent=2, ensure_ascii=False)
    print(json.dumps({
        "out": args.out_json_schema,
        "n_properties": len(schema.get("properties", {})),
        "required": schema.get("required", []),
    }))


if __name__ == "__main__":
    main(sys.argv[1:])
