"""CLI for the engine: ``python -m dataforge_spark <command>``.

Commands mirror the service surface without HTTP:

    clean   --input data.{csv,parquet,orc,avro,jsonl[.gz]} --ops '{"duplicates":
            {"enabled": true}}' --output cleaned.{csv,parquet,orc,avro,jsonl}
            [--single-file] [--bug-compat]
    profile --input data.{csv,parquet,orc,avro,jsonl}   (JSON profile to stdout)
    info                                (capability manifest to stdout)
    serve   [--port 8000] [--host 127.0.0.1] [--upload-dir uploads]
            (stdlib HTTP server: REST surface + /ui frontend)
    crawl   --warc warcs/ --out shards/ [--seq-len 256] [--vocab-size 1024]
            [--langs en,de] [--tokenizer merges.json] [--save-tokenizer p]
            (WARC/WET → filtered, deduped, BPE-tokenized TFRecord shards;
            per-stage count report to stdout)
"""

from __future__ import annotations

import argparse
import json
import sys

from . import io as dfio
from .pipeline import CleaningPipeline
from .profile import dataset_info
from .sanitize import sanitize_for_json
from .service import pipeline_info
from .session import get_spark


def _read(spark, path: str):
    if path.endswith(".parquet"):
        return dfio.read_parquet(spark, path, row_id=True)
    if path.endswith(".orc"):
        return dfio.read_orc(spark, path, row_id=True)
    if path.endswith(".avro"):
        from .avro import read_avro

        return read_avro(spark, path, row_id=True)
    if path.endswith((".jsonl", ".jsonl.gz", ".json", ".json.gz", ".ndjson")):
        return dfio.read_jsonl(spark, path, row_id=True)
    return dfio.read_csv(spark, path)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="dataforge_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    c = sub.add_parser("clean", help="run the cleaning pipeline")
    c.add_argument("--input", required=True)
    c.add_argument("--ops", required=True, help="JSON operations config")
    c.add_argument("--output", required=True)
    c.add_argument("--single-file", action="store_true")
    c.add_argument("--bug-compat", action="store_true",
                   help="reproduce the reference's stage-boundary scrub")

    pr = sub.add_parser("profile", help="profile a dataset")
    pr.add_argument("--input", required=True)

    sub.add_parser("info", help="print the capability manifest")

    vt = sub.add_parser(
        "verify-table", help="check a table against its _manifest.json"
    )
    vt.add_argument("--path", required=True)
    vt.add_argument("--no-hashes", action="store_true",
                    help="listing/size checks only (skip md5)")

    cr = sub.add_parser(
        "crawl", help="WARC/WET -> tokenized TFRecord training shards"
    )
    cr.add_argument("--warc", required=True, help="WARC/WET input directory")
    cr.add_argument("--out", required=True, help="TFRecord output directory")
    cr.add_argument("--seq-len", type=int, default=256)
    cr.add_argument("--vocab-size", type=int, default=1024)
    cr.add_argument("--langs", default=None,
                    help="comma-separated language keep-list")
    cr.add_argument("--min-quality", type=float, default=0.3)
    cr.add_argument("--gopher", action="store_true",
                    help="apply the full seven-rule Gopher quality gate")
    cr.add_argument("--fix-text", action="store_true",
                    help="repair mojibake and NFKC-normalize before filtering")
    cr.add_argument("--c4", action="store_true",
                    help="apply C4 line/page cleaning before the quality gates")
    cr.add_argument("--minhash-threshold", type=float, default=0.8)
    cr.add_argument("--tokenizer", default=None,
                    help="load a saved BPE merge table instead of training")
    cr.add_argument("--save-tokenizer", default=None,
                    help="persist the (trained or loaded) merge table here")

    sv = sub.add_parser("serve", help="serve the REST API + frontend (stdlib HTTP)")
    sv.add_argument("--host", default="127.0.0.1")
    sv.add_argument("--port", type=int, default=8000)
    sv.add_argument("--upload-dir", default="uploads")
    sv.add_argument("--verbose", action="store_true")

    args = p.parse_args(argv)

    if args.cmd == "info":
        print(json.dumps(pipeline_info(), indent=2))
        return 0

    spark = get_spark("dataforge_cli")
    if args.cmd == "serve":
        from .http_server import serve

        server = serve(spark, args.host, args.port, args.upload_dir,
                       quiet=not args.verbose)
        host, port = server.server_address[:2]
        print(f"serving on http://{host}:{port}  (UI at /ui)", flush=True)
        try:
            server.serve_forever()
        except KeyboardInterrupt:
            server.shutdown()
        return 0

    if args.cmd == "crawl":
        from .crawl import crawl_to_training_data
        from .functions.bpe import BpeTokenizer

        tok = BpeTokenizer.load(args.tokenizer) if args.tokenizer else None
        report, tok = crawl_to_training_data(
            spark,
            args.warc,
            args.out,
            tokenizer=tok,
            vocab_size=args.vocab_size,
            seq_len=args.seq_len,
            keep_langs=args.langs.split(",") if args.langs else None,
            fix_text=args.fix_text,
            min_quality=args.min_quality,
            c4=args.c4,
            gopher=args.gopher,
            minhash_threshold=args.minhash_threshold,
        )
        if args.save_tokenizer:
            tok.save(args.save_tokenizer)
            report["tokenizer_path"] = args.save_tokenizer
        print(json.dumps(report, indent=2))
        return 0

    if args.cmd == "verify-table":
        from .maintenance import verify_manifest

        v = verify_manifest(spark, args.path,
                            check_hashes=not args.no_hashes)
        print(json.dumps(v, indent=2))
        return 0 if v["ok"] else 1

    if args.cmd == "profile":
        df = _read(spark, args.input)
        print(json.dumps(sanitize_for_json(dataset_info(df)), indent=2, default=str))
        return 0

    ops = json.loads(args.ops)
    df = _read(spark, args.input)
    out, report = CleaningPipeline(
        bug_compat=args.bug_compat, collect_metrics=True
    ).run(df, ops)
    if args.output.endswith(".parquet"):
        dfio.write_parquet(out, args.output)
    elif args.output.endswith(".orc"):
        dfio.write_orc(out, args.output)
    elif args.output.endswith(".avro"):
        from .avro import write_avro

        write_avro(out.drop(dfio.ROW_ID) if dfio.ROW_ID in out.columns else out,
                   args.output)
    elif args.output.endswith((".jsonl", ".ndjson", ".json")):
        dfio.write_jsonl(out, args.output, compression=None)
    else:
        dfio.write_csv(out, args.output, single_file=args.single_file)
    out.unpersist(blocking=False)  # pinned by metrics mode for the write
    print(json.dumps(sanitize_for_json(report), indent=2))
    return 0


if __name__ == "__main__":
    sys.exit(main())
