"""CLI parity for the reference's ``gordo`` entry points — ``build``
(gordo/cli/cli.py:70-182 in /root/reference), ``workflow generate``
(:187-216), and ``run-server`` (:255-353, as ``serve``) — argparse-based.

Usage:
    python -m gordo_spark.cli build --config machines.yaml \
        --output-dir /models --registry-dir /registry
    python -m gordo_spark.cli serve --models-dir /models --port 5555

Exit codes mirror the reference's exception map where meaningful:
InsufficientDataError -> 80 (gordo/cli/cli.py:11,34); other failures -> 1.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="gordo_spark")
    sub = p.add_subparsers(dest="cmd", required=True)
    b = sub.add_parser("build", help="build models from a machine config")
    b.add_argument("--config", required=True, help="YAML config path or string")
    b.add_argument("--output-dir", default=None, help="model store root")
    b.add_argument("--registry-dir", default=None, help="build-cache registry root")
    b.add_argument("--machine", default=None, help="build only this machine name")
    b.add_argument("--max-workers", type=int, default=4)
    b.add_argument(
        "--exceptions-reporter-file",
        default=None,
        help="write a JSON exception report here on failure "
        "(reference: gordo/cli/exceptions_reporter.py)",
    )
    b.add_argument(
        "--exceptions-report-level",
        default="MESSAGE",
        help="report verbosity: EXIT_CODE|TYPE|MESSAGE|TRACEBACK",
    )
    w = sub.add_parser(
        "workflow",
        help="machine config -> staged Spark build-plan YAML "
        "(reference: gordo workflow generate)",
    )
    w.add_argument("--config", required=True, help="YAML config path or string")
    w.add_argument(
        "--model-parameter",
        action="append",
        default=[],
        metavar="KEY=VALUE",
        help="Jinja parameter for templated model configs (repeatable; "
        "reference gordo/cli/cli.py:187-216)",
    )
    w.add_argument("--project-name", default="gordo-spark")
    w.add_argument("--output", default=None, help="write YAML here (default stdout)")
    s = sub.add_parser(
        "serve",
        help="run the model server (reference: gordo run-server, "
        "gordo/cli/cli.py:255-353)",
    )
    s.add_argument("--models-dir", required=True, help="model store root to serve")
    s.add_argument("--host", default="0.0.0.0")
    s.add_argument("--port", type=int, default=5555, help="0 = ephemeral")
    s.add_argument(
        "--workers",
        type=int,
        default=2,
        help="reference gunicorn worker count; accepted for flag parity "
        "and collapsed into the single-process threading stand-in",
    )
    s.add_argument(
        "--threads",
        type=int,
        default=8,
        help="reference gthread thread count; see --workers",
    )
    s.add_argument(
        "--expected-model",
        action="append",
        default=None,
        help="model name the store must contain (repeatable)",
    )
    args = p.parse_args(argv)

    if args.cmd == "workflow":
        from gordo_spark.config import load_yaml_config
        from gordo_spark.workflow import workflow_yaml

        params = {}
        for kv in args.model_parameter:
            k, _, v = kv.partition("=")
            if not k or not _:
                print(f"bad --model-parameter {kv!r} (want KEY=VALUE)", file=sys.stderr)
                return 1
            params[k] = v
        machines = load_yaml_config(args.config)
        out = workflow_yaml(machines, params, args.project_name)
        if args.output:
            with open(args.output, "w") as f:
                f.write(out)
        else:
            print(out)
        return 0

    if args.cmd == "serve":
        from gordo_spark import get_spark
        from gordo_spark.server import run_server

        if not (0 <= args.port <= 65535):
            print(f"--port out of range: {args.port}", file=sys.stderr)
            return 1
        run_server(
            get_spark("gordo_spark_serve"),
            args.models_dir,
            host=args.host,
            port=args.port,
            workers=args.workers,
            threads=args.threads,
            expected_models=args.expected_model,
        )
        return 0

    from gordo_spark import get_spark
    from gordo_spark.builder import build_machines
    from gordo_spark.config import load_yaml_config
    from gordo_spark.sources.store import DiskRegistry, ModelStore

    machines = load_yaml_config(args.config)
    if args.machine:
        machines = [m for m in machines if m.name == args.machine]
        if not machines:
            print(f"no machine named {args.machine!r} in config", file=sys.stderr)
            return 1
    store = ModelStore(args.output_dir) if args.output_dir else None
    registry = DiskRegistry(args.registry_dir) if args.registry_dir else None
    spark = get_spark("gordo_spark_build")
    try:
        results = build_machines(
            spark, machines, store, registry, max_workers=args.max_workers
        )
    except Exception as e:  # noqa: BLE001 - exit-code map is the contract
        from gordo_spark.exceptions_reporter import ReportLevel, default_reporter

        # a fleet build's ExceptionGroup reports its first failed machine,
        # as the reference's one-machine build pod would
        cause = e.exceptions[0] if isinstance(e, ExceptionGroup) else e
        reporter = default_reporter()
        code = reporter.exit_code_for(type(cause))
        if args.exceptions_reporter_file:
            level = ReportLevel.parse(
                args.exceptions_report_level, ReportLevel.MESSAGE
            )
            reporter.write_report_safely(
                level,
                type(cause),
                cause,
                cause.__traceback__,
                args.exceptions_reporter_file,
                max_message_len=2024,  # k8s termination-message cap
            )
        print(f"{type(e).__name__}: {e}", file=sys.stderr)
        return code
    for name, r in results.items():
        summary = {
            "name": name,
            "cached": r.cached,
            "path": r.path,
            "scores": r.metadata.get("build-metadata", {})
            .get("model", {})
            .get("cross_validation", {})
            .get("scores", {}),
        }
        print(json.dumps(summary, default=str))
    return 0


if __name__ == "__main__":
    sys.exit(main())
