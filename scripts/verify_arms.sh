#!/usr/bin/env bash
# Two-arm oracle run: graft.Verify + scripts/check.py on one scale dir,
# twice. The first arm runs with the default driver-kernel gates. The
# second sets the cap of every one-job driver gate (one action that
# collects the gated relation iff it fits under the cap) to 0, so each
# gated query takes its distributed arm instead of collecting to the
# driver. Exits non-zero unless both arms pass every oracle.
#
# Usage: scripts/verify_arms.sh <sfDir> [outRoot]
#   sfDir    the parquet tables to verify (the oracle scale is sf0.01)
#   outRoot  where each arm writes its dump and logs
#            (default: $TMPDIR/graft_verify_arms, or /tmp/...)
# Env: SBT (default sbt), SPARK_GRAFT_CPUS and SPARK_GRAFT_ONLY pass
# through to Verify. Takes about 11 minutes at 4 cores for sf0.01.
set -u

if [ $# -lt 1 ]; then
  echo "usage: $0 <sfDir> [outRoot]" >&2
  exit 2
fi
sf=$1
out=${2:-${TMPDIR:-/tmp}/graft_verify_arms}
cd "$(dirname "$0")/.." || exit 2
mkdir -p "$out"

gates=(SPARK_GRAFT_DRIVER_GRAPH_PAIRS SPARK_GRAFT_DRIVER_KM_VECS
  SPARK_GRAFT_DRIVER_CLASSIFY_ROWS SPARK_GRAFT_DRIVER_TRI_WORK
  SPARK_GRAFT_TOKENIZER_DRIVER_VOCAB)
unset_gates=()
zero_gates=()
for g in "${gates[@]}"; do
  unset_gates+=(-u "$g")
  zero_gates+=("$g=0")
done

# run_arm <name> <env args...>: dump with Verify, then check the dump
run_arm() {
  local name=$1
  shift
  local dir="$out/$name"
  rm -rf "$dir"
  echo "== arm $name"
  if ! env "$@" "${SBT:-sbt}" -batch "runMain graft.Verify $sf $dir" \
      >"$out/$name.verify.log" 2>&1; then
    echo "FAIL arm $name: Verify exited non-zero (see $out/$name.verify.log)"
    return 1
  fi
  python3 scripts/check.py "$sf" "$dir" >"$out/$name.check.log" 2>&1
  local rc=$?
  grep -v '^PASS ' "$out/$name.check.log"
  echo "arm $name: $(grep -c '^PASS ' "$out/$name.check.log") passed" \
    "(see $out/$name.check.log)"
  return $rc
}

status=0
run_arm default "${unset_gates[@]}" || status=1
run_arm gates_off "${zero_gates[@]}" || status=1
if [ $status -eq 0 ]; then
  echo "BOTH ARMS PASS"
else
  echo "ARM FAILURES"
fi
exit $status
