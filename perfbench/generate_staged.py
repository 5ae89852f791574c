"""The ``generate_lux`` job stage by stage, with a span around each layer.

    python3 perfbench/generate_staged.py --pbf lux.osm.pbf --out out.jsonl \\
        --cpus 4 --spans spans.json --run-id ID --spawned-at <time.time() at spawn>

``run.py --trace 1`` runs this as a process of its own in the place of
``python -m cosmospark generate -i lux.osm.pbf -o out.jsonl
--disable-voronoi --num-threads N``, from the same directory and with
the same environment, so the traced job pays what the timed CLI job
pays: interpreter start and imports (span ``process.start_s``, from
``--spawned-at``), the Spark session ``get_spark`` builds for the CLI
(``session.start_s``), each stage, and the session stop
(``session.stop_s``). Each stage calls the public functions the CLI's
``build_zones_from_pbf`` calls, and its output is materialized at the
span boundary, so a span measures only its own work. The spans go to
``--spans`` as JSON.
"""

import argparse
import os
import time

# the modules the CLI's generate imports
from cosmospark import fixtures, pbf, pipeline
from cosmospark.hierarchy import build_hierarchy, find_inclusions, with_bbox_and_area
from cosmospark.labels import compute_labels, compute_names, with_zip_codes
from cosmospark.session import get_spark
from cosmospark.stats import compute_stats
from cosmospark.typer import (
    assign_country, clean_untagged_zones, make_rules, type_zones, typing_stats,
)

import procstat
from spans import Tracer, materialize

IMPORTED = time.time()  # interpreter start and imports end here

# the Zone surface the generate CLI writes (cosmospark/__main__.py)
ZONE_COLUMNS = [
    "id", "osm_id", "admin_level", "zone_type", "name", "label", "loc_name", "alt_name",
    "international_labels", "zip_codes", "center", "bbox", "tags", "center_tags",
    "parent", "wikidata", "is_generated", "country_code", "rings",
]


def out_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, n)) for d, _, ns in os.walk(path) for n in ns)


def staged_generate(tracer: Tracer, pbf_path: str, out_path: str, cpus: int) -> None:
    with tracer.span("session.start_s"):
        spark = get_spark(app_name="cosmospark-generate", master=f"local[{cpus}]")
        spark.sparkContext.setLogLevel("ERROR")
    tracer.spark = spark
    with tracer.span("pbf.read_osm_pbf") as c:
        t = pbf.read_osm_pbf(spark, pbf_path)
        c["rows_out"] = sum(df.count() for df in t.values())
        c["mb"] = os.path.getsize(pbf_path) / 2**20
    with tracer.span("assembly.extract_zones_from_osm") as c:
        raw = materialize(pipeline.extract_zones_from_osm(
            t["relations"], t["rel_members"], t["ways"], t["nodes"], t["rel_node_members"]
        ))
        c["rows_out"] = raw.count()
    with tracer.span("pipeline.prep"):
        rules = make_rules(spark, fixtures.LUX_RULES_LEVELS)
        zones = materialize(with_zip_codes(with_bbox_and_area(pipeline.extract_zone_fields(raw))))
    with tracer.span("hierarchy.find_inclusions") as c:
        inc = materialize(find_inclusions(zones))
        c["rows_out"] = inc.count()
    with tracer.span("typer.type_zones"):
        typed = materialize(type_zones(assign_country(zones, inc, rules), inc, rules))
        stats = typing_stats(typed)
    with tracer.span("hierarchy.build_hierarchy"):
        parented = materialize(build_hierarchy(typed, inc))
    with tracer.span("labels.compute_labels"):
        labelled = materialize(compute_labels(compute_names(parented)))
    with tracer.span("pipeline.write_zones") as c:
        out = clean_untagged_zones(labelled)
        result = out.select([col for col in out.columns if col in ZONE_COLUMNS])
        doc = {**compute_stats(result), **stats}
        pipeline.write_zones(result, out_path, osm_filename=pbf_path, stats=doc)
        c["bytes_written"] = out_bytes(out_path)
    tracer.spark = None
    with tracer.span("session.stop_s"):
        spark.stop()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--pbf", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--cpus", type=int, required=True)
    ap.add_argument("--spans", required=True)
    ap.add_argument("--run-id", required=True)
    ap.add_argument("--spawned-at", type=float, required=True)
    args = ap.parse_args()
    with procstat.TreeSampler() as sampler:
        tracer = Tracer(sampler, run_id=args.run_id)
        tracer.add_span("process.start_s", args.spawned_at, IMPORTED)
        staged_generate(tracer, args.pbf, args.out, args.cpus)
    tracer.dump(args.spans)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
