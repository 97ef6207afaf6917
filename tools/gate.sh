#!/bin/bash
# Full local gate in one command: oracle compare at sf0.01, the
# benchmark's own unit tests, then the full test suite. Mirrors the
# per-round correctness run (CORRECTNESS_r*.json).
set -e
cd "$(dirname "$0")/.."
rm -rf /tmp/graft_gate
sbt -batch "runMain graft.Verify /root/testdata/sf0.01 /tmp/graft_gate"
python3 tools/compare.py /tmp/graft_gate /root/testdata/sf0.01
python3 -m unittest discover -s perfbench -p 'test_*.py'
sbt -batch test
