import sys
from pathlib import Path

# benchmark modules and, from the repository root, the package under test
sys.path[:0] = [str(Path(__file__).resolve().parents[1]), str(Path.cwd())]
