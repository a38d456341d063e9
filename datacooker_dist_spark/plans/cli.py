"""CLI mirroring the reference's options (``dist/Configuration.java:29-37``):

  -c conf  config file/URI        -d dir   direction to run
  -m mem   driver memory          -u ui    enable Spark UI
  -L n     local cores

Unknown options are ignored (the reference parses leniently,
``Configuration.java:68-76``), so reference command lines that still pass
its ``-t tmp`` / ``-l`` (local mode) options run unchanged.
"""

from __future__ import annotations

import argparse
import sys

from ..session import build_session
from .config import Configuration
from .runner import run


def make_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="datacooker-dist-spark", add_help=True)
    p.add_argument("--docgen", action="store_true",
                   help="print adapter registry docs (verbs, params, "
                        "example configs) and exit — reference DocGen parity")
    p.add_argument("-c", "--config", default=None, help="config JSON path/URI")
    p.add_argument("-d", "--direction", default=None, help="direction name")
    p.add_argument("-m", "--memory", default=None, help="driver memory")
    p.add_argument("-u", "--ui", action="store_true", help="enable Spark UI")
    p.add_argument("-L", "--local-cores", type=int, default=None)
    return p


def main(argv: list[str] | None = None) -> int:
    args, _unknown = make_parser().parse_known_args(argv)
    if args.docgen:
        from .. import sources  # noqa: F401 — populate the registry
        from ..registry import adapter_docs

        print(adapter_docs())
        return 0
    if not args.config:
        print("error: -c/--config is required (or use --docgen)",
              file=sys.stderr)
        return 2
    extra = {}
    if args.memory:
        extra["spark.driver.memory"] = args.memory
    if args.ui:
        extra["spark.ui.enabled"] = "true"
    spark = build_session(
        app_name="datacooker-dist-spark", cpus=args.local_cores, extra_conf=extra
    )
    try:
        config = Configuration.load(spark, args.config)
        run(spark, config, args.direction)
        return 0
    except Exception as e:  # reference logs + exits 1 (Main.java:149-156)
        print(f"error: {e}", file=sys.stderr)
        return 1
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
