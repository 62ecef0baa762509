"""osmgraft benchmark harness; entry point perfbench/run.py."""
